package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.Publication
import graft.streaming.{ChangeLogStream, Topology}

/** One wire message of the generated feed, with the fate the generator
  * planned for it: `u` unpublished, `d` dead (corrupt), `l` late,
  * `a` admitted.
  */
final case class Msg(file: Int, status: Char, key: Array[Byte], value: Array[Byte]) {
  def published: Boolean = status != 'u'
  def keyString: String = new String(key, UTF_8)
  def bytes: Long = key.length.toLong + value.length
}

object Cdc {
  val Published: Seq[String] = Seq("public.t0", "public.t1")
  val DelayUs: Long = 10L * 60 * 1000000
  val Buckets = 4
  /** Reads the generator's `file<TAB>status<TAB>key<TAB>value` lines. */
  def readFeed(path: String): Array[Msg] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.map { l =>
      val p = l.split("\t", 4)
      Msg(p(0).toInt, p(1).head, p(2).getBytes(UTF_8), p(3).getBytes(UTF_8))
    }.toArray

  /** Writes one parquet file per feed file into `dir`, with modification
    * times in feed order: the file source takes the oldest file first,
    * so batch `i` of a one-file-per-trigger query reads feed file `i`.
    */
  def writeFeed(spark: SparkSession, msgs: Array[Msg], dir: String): Unit = {
    val files = msgs.map(_.file).max + 1
    val byFile = (0 until files).map(f =>
      msgs.filter(_.file == f).map(m => Row(m.key, m.value)).toSeq)
    val rdd = spark.sparkContext.parallelize(byFile, files).flatMap(identity)
    spark.createDataFrame(rdd, Topology.wireSchema).write.parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    require(parts.length == files, s"expected $files feed files, wrote ${parts.length}")
    val base = System.currentTimeMillis() - 1000L * files
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(base + 1000L * i) }
  }

  private def publishedFilter =
    split(col("key").cast("string"), ":").getItem(0).isin(Published: _*)

  /** One row of a table store: key, state LSN, state entries sorted by
    * column, tombstone flag.
    */
  final case class StoreRow(table: String, key: String, lsn: Long,
      state: Seq[(String, String)], tombstone: Boolean)

  private def sortedState(c: org.apache.spark.sql.Column) =
    array_sort(map_entries(c)).as("state")

  private def storeRows(df: DataFrame): Seq[StoreRow] =
    df.collect().toSeq.map(r => StoreRow(r.getString(0), r.getString(1), r.getLong(2),
      Option(r.getSeq[Row](3)).map(_.map(e => (e.getString(0), e.getString(1)))).orNull,
      r.getBoolean(4)))

  /** The batch reference of the sink, computed on the driver from the
    * admitted envelopes by the rule the streaming sink is specified
    * against (`ChangeLog.latestStateCarryForward` plus tombstone
    * retention): per table and key, deletes fence every earlier event;
    * the live state holds, per column, the value of the latest event that
    * shipped it (TOAST-unchanged cells carry forward); a key whose latest
    * event is a delete keeps a tombstone while its delete LSN is above
    * the table's horizon `head - head / 4`.
    */
  def reference(admitted: Seq[Msg]): Seq[StoreRow] = {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    final case class Ev(table: String, key: String, op: String, lsn: Long,
        cells: Seq[(String, String)])
    val evs = admitted.map { m =>
      val n = json.readTree(m.value)
      val unchanged = Option(n.get("unchangedCols")).toSeq
        .flatMap(_.elements().asScala.map(_.asText())).toSet
      val after = Option(n.get("after")).toSeq.flatMap(_.fields().asScala)
        .filterNot(e => unchanged(e.getKey))
        .map(e => e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText()))
      Ev(s"${n.get("schemaName").asText()}.${n.get("tableName").asText()}",
        n.get("key").asText(), n.get("op").asText(), n.get("lsn").asLong(), after)
    }
    evs.groupBy(_.table).toSeq.flatMap { case (table, tev) =>
      val head = tev.map(_.lsn).max
      tev.groupBy(_.key).toSeq.flatMap { case (key, kev) =>
        val dels = kev.filter(_.op == "delete")
        val fence = if (dels.isEmpty) Long.MinValue else dels.map(_.lsn).max
        val live = kev.filter(e => Set("insert", "update", "snapshot")(e.op) && e.lsn > fence)
        if (live.nonEmpty) {
          val cells = live.sortBy(_.lsn).flatMap(_.cells).toMap.toSeq.sorted
          Seq(StoreRow(table, key, live.map(_.lsn).max, cells, tombstone = false))
        } else if (dels.nonEmpty && fence > head - (head >> 2))
          Seq(StoreRow(table, key, fence, null, tombstone = true))
        else Nil
      }
    }
  }

  /** The sink's stores, in the reference's shape. */
  def store(spark: SparkSession, sinkDir: String): Seq[StoreRow] =
    Published.filter(t => Files.exists(Paths.get(s"$sinkDir/state/$t")))
      .map(t => spark.read.parquet(s"$sinkDir/state/$t")
        .select(lit(t).as("table"), col("key"), col("state_lsn").cast("long"),
          sortedState(col("state")), col("tombstone")))
      .reduceOption(_ unionByName _).map(storeRows).getOrElse(Nil)

  /** Rows in one multiset and not the other, both ways. */
  def difference(a: Seq[StoreRow], b: Seq[StoreRow]): Int = {
    val (ca, cb) = (a.groupBy(identity).map { case (k, v) => k -> v.size },
      b.groupBy(identity).map { case (k, v) => k -> v.size })
    (ca.keySet ++ cb.keySet).toSeq.map(k => math.abs(ca.getOrElse(k, 0) - cb.getOrElse(k, 0))).sum
  }

  private def countsByBatch(spark: SparkSession, dir: String): Map[Long, Long] =
    if (!Files.exists(Paths.get(dir))) Map.empty
    else spark.read.parquet(dir).groupBy("batch_id").count().collect()
      .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap

  /** Dead, late and logged row counts the sink recorded per batch. */
  def ledgerCounts(spark: SparkSession, sinkDir: String)
      : (Map[Long, Long], Map[Long, Long], Map[Long, Long]) = {
    val logged = graft.ops.LogSink.read(spark, s"$sinkDir/log").collect()
      .groupBy(_.batchId).map { case (b, rs) => b -> rs.map(_.nRows).sum }
    (countsByBatch(spark, s"$sinkDir/dlq"), countsByBatch(spark, s"$sinkDir/late"), logged)
  }

  /** Bytes of the regular files under `dir`. */
  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".")).map(f => Files.size(f)).sum
      finally s.close()
    }
  }

  final case class Expect(dead: Long, late: Long, admitted: Long, messages: Long)

  def expected(msgs: Seq[Msg]): Expect = Expect(
    msgs.count(_.status == 'd').toLong, msgs.count(_.status == 'l').toLong,
    msgs.count(_.status == 'a').toLong, msgs.size.toLong)

  /** The sink checks of one phase, over the published messages of the
    * files the consumer took: conservation, dead and late counts against
    * what the generator planted, and every store against the reference.
    * Records the checks; returns the reference and whether all passed.
    */
  def checkSink(ctx: Ctx, phase: String, sinkDir: String, pub: Seq[Msg],
      counts: mutable.Map[String, Double]): (Seq[StoreRow], Boolean) = {
    val spark = ctx.spark
    val exp = expected(pub)
    val (dead, late, logged) = ledgerCounts(spark, sinkDir)
    val (nd, nl, ng) = (dead.values.sum, late.values.sum, logged.values.sum)
    val ref = reference(pub.filter(_.status == 'a'))
    val diff = difference(ref, store(spark, sinkDir))
    val live = ref.count(!_.tombstone)
    val tomb = ref.count(_.tombstone)
    val checks = Seq(
      ("conservation", pub.size == nd + nl + ng,
        s"consumed ${pub.size} = dead $nd + late $nl + logged $ng"),
      ("dead", nd == exp.dead, s"dead $nd, planted corrupt ${exp.dead}"),
      ("late", nl == exp.late, s"late $nl, planted late ${exp.late}"),
      ("logged", ng == exp.admitted, s"logged $ng, admitted ${exp.admitted}"),
      ("state", diff == 0, s"store vs carry-forward reference: $diff differing rows " +
        s"($live live, $tomb tombstones expected)"))
    checks.foreach { case (n, ok, d) => ctx.check((s"$phase $n", ok, d)) }
    counts ++= Seq("rows_dead" -> nd.toDouble, "rows_late" -> nl.toDouble,
      "rows_logged" -> ng.toDouble, "live_keys" -> live.toDouble,
      "tombstones" -> tomb.toDouble)
    (ref, checks.forall(_._2))
  }

  /** What the micro-batch phase leaves for the checks after the timed
    * region: batches taken (id, span, error), their progress, and the
    * files and bytes the phase wrote.
    */
  final case class MicroRun(sink: String, done: Seq[(Long, Span, String)],
      progress: Map[Long, BatchProgress], writes: (Long, Long))

  /** Micro-batch phase: a backlogged consumer taking one feed file per
    * trigger, batches back to back, until the backlog is consumed.  It
    * opens the timed region, so its first batch is the sink path's cold
    * start.
    */
  def microbatch(ctx: Ctx, feedDir: String): MicroRun = {
    val spark = ctx.spark
    val sink = s"${ctx.work}/mb_sink"
    val before = ctx.writes.totals
    val queriesBefore = ctx.streamLedger.terminatedCount
    val done = mutable.ArrayBuffer.empty[(Long, Span, String)]
    val q = spark.readStream.schema(Topology.wireSchema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
      .filter(publishedFilter)
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        var err: String = null
        val span = ctx.spans.span("batch", id.toString) {
          try ChangeLogStream.fullProductionBatch(sink, DelayUs, Buckets)(b, id)
          catch { case e: Exception => err = Main.describe(e) }
        }
        done += ((id, span, err))
        ()
      }
      .option("checkpointLocation", s"${ctx.work}/mb_ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val progress = ctx.streamLedger.awaitTerminations(queriesBefore + 1)
      .filter(_.queryId == q.id.toString).map(p => p.batchId -> p).toMap
    val after = ctx.writes.totals
    MicroRun(sink, done.toSeq, progress, (after._1 - before._1, after._2 - before._2))
  }

  /** Checks the micro-batch phase: batch `i` read feed file `i`, so each
    * batch's ledgers must match the generator's plan for that file, and
    * the stores must match the reference over the files taken.
    */
  def checkMicrobatch(ctx: Ctx, run: MicroRun, msgs: Array[Msg]): Unit = {
    val spark = ctx.spark
    val byFile = msgs.groupBy(_.file)
    val (dead, late, logged) = ledgerCounts(spark, run.sink)
    // throughput of the warm batches: from the second batch's start to
    // the last commit
    var first = Long.MaxValue
    var last = Long.MinValue
    var committed = 0L
    run.done.foreach { case (id, span, err0) =>
      val file = byFile.getOrElse(id.toInt, Array.empty[Msg])
      val exp = expected(file.filter(_.published).toSeq)
      val p = run.progress.get(id)
      val err = Option(err0).orElse {
        if (p.isEmpty) Some(s"no progress event for batch $id")
        else if (p.get.inputRows != file.length)
          Some(s"batch $id read ${p.get.inputRows} messages, feed file $id holds ${file.length}")
        else {
          val got = (dead.getOrElse(id, 0L), late.getOrElse(id, 0L), logged.getOrElse(id, 0L))
          if (got != ((exp.dead, exp.late, exp.admitted)))
            Some(s"batch $id dead/late/logged $got, planned ${(exp.dead, exp.late, exp.admitted)}")
          else None
        }
      }.orNull
      val secs = p.map(_.durationMs.getOrElse("triggerExecution", 0L) / 1000.0)
        .getOrElse(span.seconds)
      // the first batch is the consumer's cold start, paid once per
      // start and not per batch: checked like every batch, timed apart
      val cold = id == run.done.head._1
      ctx.op(if (cold) "first_batch" else "batch", id.toString, secs, err)
      if (err == null && !cold) {
        first = math.min(first, p.get.startMs)
        last = math.max(last, p.get.startMs + p.get.durationMs("triggerExecution"))
        committed += exp.messages
      }
    }
    val consumed = run.done.flatMap { case (id, _, _) =>
      byFile.getOrElse(id.toInt, Array.empty[Msg]) }.filter(_.published)
    val counts = mutable.LinkedHashMap.empty[String, Double]
    checkSink(ctx, "microbatch", run.sink, consumed, counts)
    if (committed > 0) ctx.e2e("throughput_per_s", committed / ((last - first) / 1000.0))
    if (ctx.trace) {
      val batches = run.done.map(_._1).flatMap(run.progress.get)
      ctx.layers ++= Layers.streaming(ctx, "streaming", batches, run.done.map(_._2),
        run.sink, consumed.map(_.bytes).sum, run.writes)
      ctx.layers ++= counts.map { case (k, v) => s"streaming.$k" -> v }
    }
  }

  /** What the backfill phase leaves for the checks. */
  final case class BackfillRun(cfg: Topology.Config, span: Span, error: String,
      progress: Seq[BatchProgress], writes: (Long, Long),
      census: Either[String, Topology.Census], censusSpan: Span,
      lookups: Seq[(String, Span, Either[String, Seq[StateRow]])])

  type StateRow = (Long, Seq[(String, String)], Boolean)

  private def stateRows(df: DataFrame): Seq[StateRow] =
    df.select(col("state_lsn").cast("long"), sortedState(col("state")), col("tombstone"))
      .collect().toSeq.map(r => (r.getLong(0),
        Option(r.getSeq[Row](1)).map(_.map(e => (e.getString(0), e.getString(1)))).orNull,
        r.getBoolean(2)))

  /** Backfill phase: the whole backlog in one bulk batch through the
    * configured topology, one census, then `lookups` seeded point
    * lookups.
    */
  def backfill(ctx: Ctx, msgs: Array[Msg], feedDir: String, lookups: Int): BackfillRun = {
    val spark = ctx.spark
    val cfg = Topology.Config(feedDir, Publication.Spec("bench_pub", Published),
      s"${ctx.work}/bf_sink", s"${ctx.work}/bf_ckpt", DelayUs, Buckets)
    val queriesBefore = ctx.streamLedger.terminatedCount
    val writesBefore = ctx.writes.totals
    var err: String = null
    val span = ctx.spans.span("backfill", "bulk") {
      try Topology.run(spark, cfg)
      catch { case e: Exception => err = Main.describe(e) }
    }
    val progress =
      if (err == null) ctx.streamLedger.awaitTerminations(queriesBefore + 1)
        .filter(p => p.startMs >= span.startMs)
      else Nil
    val writes = ctx.writes.totals
    val bulkWrites = (writes._1 - writesBefore._1, writes._2 - writesBefore._2)
    var census: Either[String, Topology.Census] = Left("not run")
    val censusSpan = ctx.spans.span("census", "census") {
      census = try Right(Topology.census(spark, cfg))
               catch { case e: Exception => Left(Main.describe(e)) }
    }
    // a seeded draw over every published key
    val keys = msgs.filter(_.published).map(_.keyString).distinct.sorted
    val rng = new scala.util.Random(ctx.seed)
    val done = (0 until lookups).map { _ =>
      val key = keys(rng.nextInt(keys.length))
      var got: Either[String, Seq[StateRow]] = Left("not run")
      val s = ctx.spans.span("lookup", key) {
        got = try Right(stateRows(ChangeLogStream.stateForKey(spark,
                s"${cfg.sinkDir}/state/${key.takeWhile(_ != ':')}", Seq("key"), Seq(key))))
              catch { case e: Exception => Left(Main.describe(e)) }
      }
      (key, s, got)
    }
    BackfillRun(cfg, span, err, progress, bulkWrites, census, censusSpan, done)
  }

  /** Checks the backfill phase: sink ledgers and stores against the
    * plan and the reference, the census against both, and every lookup
    * against the reference row of its key.
    */
  def checkBackfill(ctx: Ctx, run: BackfillRun, msgs: Array[Msg]): Unit = {
    val spark = ctx.spark
    val pub = msgs.filter(_.published).toSeq
    val counts = mutable.LinkedHashMap.empty[String, Double]
    val (ref, ok) = checkSink(ctx, "backfill", run.cfg.sinkDir, pub, counts)
    run.census match {
      case Right(c) =>
        val exp = expected(pub)
        val st = c.states.map(s => s.table -> (s.live, s.tombstones)).toMap
        def n(t: String, tomb: Boolean) =
          ref.count(r => r.table == t && r.tombstone == tomb).toLong
        ctx.check(("backfill census", c.conserved && c.consumed == pub.size &&
          c.dead == exp.dead && c.late == exp.late &&
          Published.forall(t => st.get(t).contains((n(t, false), n(t, true)))), c.toString))
        ctx.op("census", "census", run.censusSpan.seconds, null)
      case Left(e) => ctx.op("census", "census", run.censusSpan.seconds, e)
    }
    val bulkSecs = run.progress.map(_.durationMs.getOrElse("triggerExecution", 0L)).sum / 1000.0
    val bulkErr = Option(run.error)
      .orElse(if (run.progress.size != 1) Some(s"${run.progress.size} batches, expected one bulk batch") else None)
      .orElse(if (ok) None else Some("sink checks failed")).orNull
    ctx.op("bulk_batch", "bulk", bulkSecs, bulkErr)
    if (ctx.trace && bulkErr == null && bulkSecs > 0)
      ctx.layers("backfill.msgs_per_s") = pub.size / bulkSecs

    val expect: Map[String, StateRow] =
      ref.map(r => r.key -> ((r.lsn, r.state, r.tombstone))).toMap
    run.lookups.foreach { case (key, s, got) =>
      val err = got match {
        case Left(e) => e
        case Right(rows) if rows != expect.get(key).toSeq =>
          s"lookup $key returned $rows, reference ${expect.get(key)}"
        case _ => null
      }
      ctx.op("lookup", key, s.seconds, err)
    }
    if (ctx.trace) {
      ctx.layers ++= Layers.streaming(ctx, "backfill", run.progress, Seq(run.span),
        run.cfg.sinkDir, pub.map(_.bytes).sum, run.writes)
      ctx.layers ++= counts.map { case (k, v) => s"backfill.$k" -> v }
      ctx.layers("backfill.census_s") = run.censusSpan.seconds
      val groups = run.lookups.map(_._2.group).toSet
      val lookupJobs = ctx.ledger.jobList.filter(j => groups(j.group))
      ctx.layers("backfill.lookup_scan_bytes") =
        if (run.lookups.isEmpty) 0.0 else lookupJobs.map(_.input).sum.toDouble / run.lookups.size
    }
  }
}
