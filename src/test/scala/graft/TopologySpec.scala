package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Envelope
import graft.streaming.Topology

/** Gates the config-driven consumer topology (r12 verdict, Next #6):
  * a config.yaml FIXTURE drives Topology.parse → run → census — the
  * SAME library path `Smoke topo` demos — through two feed batches with
  * a restart on one checkpoint, and the conservation law plus the
  * publication pruning are asserted exactly, not just demonstrated.
  */
class TopologySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def ts(minute: Int) =
    java.sql.Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  private def row(id: Long, minute: Int, uid: Long, typ: String, v: Double) =
    org.apache.spark.sql.Row(id, ts(minute), uid, typ, v, """{"k":"9"}""")

  /** The demo feed shape (Smoke topo / StreamingSpec convention):
    * envelope → key rewritten to "public.t{uid%3}:uid" → Kafka wire
    * bytes, with lsn % 7 == 0 messages corrupted (8 tail bytes lost) to
    * exercise the dead-letter path.
    */
  private def toWire(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val env0 = Envelope.toCdcEventsToast(events).toDF()
    val uid = split(col("key"), ":").getItem(1).cast("long")
    val env = env0
      .withColumn("tableName", concat(lit("t"), pmod(uid, lit(3))))
      .withColumn("key",
        concat(lit("public."), col("tableName"), lit(":"), uid))
    env.select(col("key").cast("binary").as("k2"),
        to_json(struct(env.columns.map(col): _*)).as("w"), col("lsn"))
      .select(col("k2").as("key"),
        when(col("lsn") % 7 === 0, expr("substring(w, 1, length(w) - 8)"))
          .otherwise(col("w")).cast("binary").as("value"))
  }

  test("config.yaml fixture drives the topology; restart preserves conservation") {
    val base = java.nio.file.Files.createTempDirectory("graft_topospec").toString
    // the FIXTURE: comments and an unknown key prove tolerant parsing;
    // t2 is deliberately unpublished
    val yaml = Seq(
      "# consumer topology fixture (TopologySpec)",
      s"feed.dir: $base/feed",
      "publication.name: spec_pub",
      "publication.tables: public.t0, public.t1",
      s"sink.dir: $base/sink",
      s"checkpoint.dir: $base/ckpt",
      "late.delay_minutes: 10",
      "sink.buckets: 4",
      "future.knob: ignored")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/config.yaml"),
      yaml.mkString("", "\n", "\n").getBytes)
    val cfg = Topology.parse(s"$base/config.yaml")
    assert(cfg.publication.tables === Seq("public.t0", "public.t1"))
    assert(cfg.lateDelayUs === 10L * 60 * 1000000L)
    assert(cfg.buckets === 4)

    def writeFeed(rows: Seq[org.apache.spark.sql.Row]): Unit =
      toWire(spark.createDataFrame(spark.sparkContext.parallelize(rows), schema))
        .coalesce(1).write.mode("append").parquet(cfg.feedDir)

    // batch 1: users 1..6 → t1,t2,t0,t1,t2,t0; users 2,5 (t2) are
    // pruned by the publication filter; minutes 11..16 set the mark
    val first = (1 to 6).map(i => row(i.toLong, 10 + i, i.toLong, "signup", i * 1.0))
    writeFeed(first)
    Topology.run(spark, cfg)
    val c1 = Topology.census(spark, cfg)
    assert(c1.consumed === 4, s"t2 rows must be pruned pre-consume: $c1")
    assert(c1.dead === 0 && c1.late === 0)
    assert(c1.conserved, s"conservation broke after batch 1: $c1")
    // the unpublished table must have NO store at all
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"${cfg.sinkDir}/state/public.t2")),
      "unpublished table grew a state store")

    // batch 2 (RESTART on the same checkpoint): late horizon =
    // 16:00 − 10 min = 06:00
    val second = Seq(
      row(29, 5, 4, "click", 29.0),   // t1, minute 5 < 06:00 → LATE
      row(35, 20, 3, "click", 35.0),  // t0, 35 % 7 == 0 → DEAD
      row(31, 21, 1, "click", 31.0),  // t1, clean update
      row(30, 22, 6, "click", 30.0),  // t0, clean update
      row(32, 23, 5, "click", 32.0))  // t2 → pruned, never consumed
    writeFeed(second)
    Topology.run(spark, cfg) // new query object, same checkpoint
    var c2: Topology.Census = null
    val censusJobs = SparkJobs.during(spark) { c2 = Topology.census(spark, cfg) }
    // every read has its schema, so no read infers one with a job: one
    // collect of the log, and one count each of the dead ledger, the late
    // ledger, the feed and the two table stores — two jobs per count
    // under AQE, its map stage and its result
    assert(censusJobs === 11, s"the census ran $censusJobs jobs")
    assert(c2.consumed === 8, s"cumulative consumed: $c2")
    assert(c2.dead === 1 && c2.late === 1, s"dead/late census: $c2")
    assert(c2.conserved, s"conservation broke after restart: $c2")
    // latest-state per table: t0 = users {3, 6}, t1 = users {1, 4} —
    // no deletes anywhere, so live counts are exact and tombstones zero
    val states = c2.states.map(s => s.table -> s).toMap
    assert(states("public.t0").live === 2 && states("public.t0").tombstones === 0)
    assert(states("public.t1").live === 2 && states("public.t1").tombstones === 0)
    // and the restarted pass consumed ONLY the new files: logged grew by
    // exactly batch 2's admitted rows (4 consumed − 1 dead − 1 late = 2)
    assert(c2.logged === c1.logged + 2, s"restart re-consumed old files: $c1 → $c2")

    // a PUBLISHED table the feed never mentions has no store on disk
    // (only touched buckets are written) — the census must report it as
    // live=0 so the operator notices the silent table, not crash (r13
    // review finding)
    val cfg9 = cfg.copy(publication = graft.pipeline.Publication.Spec(
      "spec_pub", cfg.publication.tables :+ "public.t9"))
    val c9 = Topology.census(spark, cfg9)
    val t9 = c9.states.find(_.table == "public.t9")
    assert(t9.contains(Topology.TableState("public.t9", 0L, 0L)),
      s"silent published table census: $t9")
    assert(c9.consumed === c2.consumed, "t9 never appears in the feed")
  }

  test("graph-ingest sink kind: config-built ingestion with restart equals the batch reference") {
    // r16 verdict #2: the durable GraphIngest store was proven by
    // StreamingSpec but unreachable from the config surface every other
    // sink deploys through. This leg drives it end-to-end FROM A CONFIG
    // FILE: publish the trained index state (centroids + standing
    // assignment) as parquet, parse `sink.kind: graph-ingest`, run one
    // feed file, restart the topology (new query object, same
    // checkpoint) on a second file, and require the store to equal the
    // deterministic two-fold batch reference — nothing lost, duplicated,
    // or re-consumed across the restart. A third run with no new files
    // must be a no-op.
    import org.apache.spark.sql.functions.col
    import graft.streaming.GraphIngest
    val spark2 = spark
    import spark2.implicits._
    val d = "/root/testdata/sf0.001"
    val fence = graft.operators.Similarity.incFence(spark, d)
    val (cents, standAssign) =
      graft.operators.Similarity.incStandingState(spark, d)
    val batchDf = graft.sources.Tables.embeddings(spark, d)
      .filter(col("vec_id") > fence)
      .select(col("vec_id"),
        graft.functions.VectorOps.asDouble(col("embedding")).as("e"))
      .persist()
    val mid = batchDf.agg(org.apache.spark.sql.functions
        .percentile_approx(col("vec_id"), org.apache.spark.sql.functions
          .lit(0.5), org.apache.spark.sql.functions.lit(1000)))
      .head().getLong(0)
    val (h1, h2) = (batchDf.filter(col("vec_id") <= mid),
      batchDf.filter(col("vec_id") > mid))
    val base = java.nio.file.Files.createTempDirectory("graft_topograph").toString
    // the published index state the config points at
    cents.write.parquet(s"$base/cents")
    standAssign.write.parquet(s"$base/seed")
    val yaml = Seq(
      "# graph-ingest topology fixture (TopologySpec)",
      "sink.kind: graph-ingest",
      s"feed.dir: $base/feed",
      s"graph.store.dir: $base/store",
      s"graph.centroids.dir: $base/cents",
      s"graph.seed.dir: $base/seed",
      s"checkpoint.dir: $base/ckpt",
      "future.knob: ignored")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/config.yaml"),
      yaml.mkString("", "\n", "\n").getBytes)
    val cfg = Topology.parseAny(s"$base/config.yaml")
    assert(cfg === Topology.GraphIngestConfig(s"$base/feed", s"$base/store",
      s"$base/cents", s"$base/seed", s"$base/ckpt"))
    // a pre-r17 CDC config (no sink.kind) still parses through the
    // same entry point, defaulting to the cdc sink
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/config_cdc.yaml"), Seq(
        s"feed.dir: $base/feed", "publication.name: p",
        "publication.tables: public.t0", s"sink.dir: $base/cdc_sink")
        .mkString("", "\n", "\n").getBytes)
    assert(Topology.parseAny(s"$base/config_cdc.yaml")
      .isInstanceOf[Topology.Config])
    def runOnce(file: Option[org.apache.spark.sql.DataFrame]): Unit = {
      file.foreach(_.coalesce(1).write.mode("append").parquet(s"$base/feed"))
      Topology.runAny(spark, cfg) // new query object, same checkpoint
    }
    runOnce(Some(h1))
    runOnce(Some(h2)) // RESTART: the checkpoint must skip h1's file
    // deterministic two-fold reference (the StreamingSpec convention)
    val (e1, a1) = graft.operators.Similarity
      .appendGraphEdges(h1, standAssign, cents)
    val standing2 = standAssign.unionByName(a1).localCheckpoint()
    val (e2, _) = graft.operators.Similarity
      .appendGraphEdges(h2, standing2, cents)
    val refEdges = e1.select("src", "dst").unionByName(e2.select("src", "dst"))
      .as[(Long, Long)].collect().toSet
    def storeEdges(): Set[(Long, Long)] =
      GraphIngest.edges(spark, s"$base/store").as[(Long, Long)].collect().toSet
    assert(storeEdges() === refEdges,
      "config-driven restart-crossing store diverged from the batch reference")
    val refAssign = graft.operators.Similarity
      .appendGraphEdges(batchDf, standAssign, cents)._2
      .select("vec_id", "cent_id").as[(Long, Long)].collect().sorted.toSeq
    def storeAssign(): Seq[(Long, Long)] =
      spark.read.parquet(s"$base/store/assign")
        .select("vec_id", "cent_id").as[(Long, Long)].collect().sorted.toSeq
    assert(storeAssign() === refAssign,
      "config-driven assign store diverged from the batch multi-probe rows")
    runOnce(None) // no new files: the restart consumes nothing
    assert(storeEdges() === refEdges && storeAssign() === refAssign,
      "an empty restart mutated the store")
    batchDf.unpersist()
    CachePool.releaseAll()
  }
}
