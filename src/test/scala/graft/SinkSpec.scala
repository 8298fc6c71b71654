package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** D12 index-routing analog: the reference routes documents to
  * per-table ES indices (`cdc_public_users`); ours partitions the sink
  * by the routing column. The payoff at scale is PARTITION PRUNING — a
  * reader filtering on the routing column must touch only its
  * directory, which this spec asserts from the physical plan.
  */
class SinkSpec extends AnyFunSuite {
  import SinkSpec.plant
  lazy val spark = TestSession.spark

  test("partitioned sink: routing-column filter prunes at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString + "/t"
    val events = sources.Tables.events(spark, "/root/testdata/sf0.001")
    pipeline.ChangeLog.latestState(events, Seq("user_id"), "event_id")
      .write.partitionBy("event_type").mode("overwrite").parquet(dir)

    val back = spark.read.parquet(dir).filter(col("event_type") === "click")
    val scan = back.queryExecution.executedPlan.collectLeaves().head.toString

    // the filter must be a partition filter (directory-level pruning),
    // NOT a data filter evaluated per row
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("event_type"), scan)

    // and only the one partition's rows come back
    val expected = pipeline.ChangeLog
      .latestState(events, Seq("user_id"), "event_id")
      .filter(col("event_type") === "click").count()
    assert(back.count() === expected && expected > 0)
  }

  test("standalone cleaner purges expired tombstones from buckets no batch touches") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cleaner").toString + "/state"
    val nb = 4
    val isDel = col("op") === "delete"
    val sink = streaming.ChangeLogStream.retentionUpsertBatch(
      dir, Seq("key"), "lsn", isDel, nb) _
    // pick two keys that land in DIFFERENT buckets (xxhash64 layout)
    val buckets = (1L to 20L).map(k =>
      k -> spark.range(1).select(
        pmod(xxhash64(lit(k)), lit(nb)).cast("int")).head().getInt(0)).toMap
    val kTomb = 1L
    val kOther = (2L to 20L).find(buckets(_) != buckets(kTomb)).get
    // tombstone for kTomb at LSN 40 (head 50 ⇒ horizon 38: retained)
    sink(Seq((kTomb, 10L, "insert"), (kOther, 20L, "insert"),
      (kTomb, 40L, "delete"), (kOther, 50L, "update"))
      .toDF("key", "lsn", "op"), 0L)
    def keys(): Set[Long] = streaming.ChangeLogStream.readState(spark, dir)
      .select($"key").as[Long].collect().toSet
    assert(keys() === Set(kTomb, kOther), "tombstone inside horizon retained")
    // advance head to 200 (horizon 150) touching ONLY kOther's bucket:
    // the expired tombstone survives in its cold bucket
    sink(Seq((kOther, 200L, "update")).toDF("key", "lsn", "op"), 1L)
    assert(keys() === Set(kTomb, kOther),
      "per-batch compaction must not reach an untouched bucket")
    // the cleaner visits cold segments: exactly one bucket rewrites
    val swept = streaming.ChangeLogStream.compactTombstones(
      spark, dir, Seq("key"), "lsn", isDel, nb)
    assert(swept === 1, s"one bucket held an expired tombstone, got $swept")
    assert(keys() === Set(kOther), "expired tombstone purged by the sweep")
    // idempotent: a clean store sweeps nothing and writes nothing
    assert(streaming.ChangeLogStream.compactTombstones(
      spark, dir, Seq("key"), "lsn", isDel, nb) === 0)
    // re-insert after the purge materializes normally
    sink(Seq((kTomb, 300L, "insert")).toDF("key", "lsn", "op"), 2L)
    assert(keys() === Set(kTomb, kOther))
  }

  test("bucketed upsert rewrites ONLY buckets containing batch keys") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bupsert").toString + "/state"
    val nb = 8
    val sink = streaming.ChangeLogStream.upsertBatch(dir, Seq("key"), "lsn", nb) _
    // 200 keys span all 8 buckets
    sink((1L to 200L).map(k => (k, k, s"v$k")).toDF("key", "lsn", "v"), 0L)

    def files(): Map[String, Seq[Byte]] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(dir)
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString ->
          java.nio.file.Files.readAllBytes(p).toSeq)
        .toMap
      finally walk.close()
    }
    val before = files()
    assert(before.keys.count(_.endsWith("_graft_buckets")) === 1)
    assert((0 until nb).forall(b => before.keys.exists(_.startsWith(s"__bucket=$b/"))),
      s"200 keys must populate all $nb buckets: ${before.keys}")

    // batch 1 touches exactly one key → exactly one bucket
    sink(Seq((7L, 1000L, "v7new")).toDF("key", "lsn", "v"), 1L)
    val after = files()
    // lit type must match the key column (bigint), else the hash differs
    val touchedBucket = spark.range(1).select(lit(7L).as("b"))
      .select(streaming.ChangeLogStream.bucketOf(Seq("b"), nb).as("bk"))
      .head.getInt(0)

    def bucketFiles(m: Map[String, Seq[Byte]], pred: String => Boolean) =
      m.view.filterKeys(k => k.startsWith("__bucket=") && pred(k)).toMap
    assert(
      bucketFiles(after, !_.startsWith(s"__bucket=$touchedBucket/")) ===
        bucketFiles(before, !_.startsWith(s"__bucket=$touchedBucket/")),
      "untouched buckets must keep byte-identical files (no rewrite, no rename)")
    assert(
      bucketFiles(after, _.startsWith(s"__bucket=$touchedBucket/")) !==
        bucketFiles(before, _.startsWith(s"__bucket=$touchedBucket/")),
      "the touched bucket must actually have been republished")

    // merged state is correct: key 7 updated, every other key untouched
    val state = streaming.ChangeLogStream.readState(spark, dir)
      .select($"key", $"lsn", $"v").as[(Long, Long, String)].collect().toSet
    val expected = (1L to 200L).map(k =>
      if (k == 7L) (7L, 1000L, "v7new") else (k, k, s"v$k")).toSet
    assert(state === expected)

    // point lookup reads the ONE bucket directory its key can live in: a
    // decoy row for key 7, a valid parquet file under another bucket's
    // directory, must not come back
    plant(Seq((7L, 5000L, "decoy")).toDF("key", "lsn", "v"), dir, (touchedBucket + 1) % nb)
    assert(streaming.ChangeLogStream.readState(spark, dir).filter($"key" === 7L).count() === 2,
      "the decoy is a readable row of the store")
    val lookup = streaming.ChangeLogStream.stateForKey(
      spark, dir, Seq("key"), Seq(7L), nb)
    assert(lookup.select("v").as[String].collect().toSeq === Seq("v7new"))
  }

  test("point lookup runs no Spark job") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bnojob").toString + "/state"
    streaming.ChangeLogStream.upsertBatch(dir, Seq("key"), "lsn", 8)(
      (1L to 40L).map(k => (k, k, s"v$k")).toDF("key", "lsn", "v"), 0L)
    var rows = Seq.empty[org.apache.spark.sql.Row]
    val jobs = SparkJobs.during(spark) {
      rows = streaming.ChangeLogStream.stateForKey(spark, dir, Seq("key"), Seq(7L))
        .collect().toSeq
    }
    assert(rows.map(_.getAs[String]("v")) === Seq("v7"))
    assert(jobs === 0, s"a point lookup ran $jobs Spark jobs")
  }

  test("point lookup casts the key to the store's column type: Int keys hit a bigint store") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bcast").toString + "/state"
    streaming.ChangeLogStream.upsertBatch(dir, Seq("key"), "lsn", 16)(
      (1L to 40L).map(k => (k, k, s"v$k")).toDF("key", "lsn", "v"), 0L)
    // xxhash64 hashes by type: an Int hashed as an Int probed another
    // bucket than the equal bigint and read empty
    val misses = (1 to 40).filter { k =>
      streaming.ChangeLogStream.stateForKey(spark, dir, Seq("key"), Seq(k))
        .select($"v").as[String].collect().toSeq != Seq(s"v$k")
    }
    assert(misses.isEmpty, s"Int-typed lookups that missed: $misses")
    // the equality itself is unchanged: a value that does not cast
    // exactly (7.5 casts to 7) still matches nothing
    assert(streaming.ChangeLogStream.stateForKey(spark, dir, Seq("key"), Seq(7.5))
      .count() === 0)
    intercept[IllegalArgumentException] {
      streaming.ChangeLogStream.stateForKey(spark, dir, Seq("nokey"), Seq(7L))
    }
  }

  test("bucket count is pinned at creation: a mismatched later param is ignored") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bpin").toString + "/state"
    streaming.ChangeLogStream.upsertBatch(dir, Seq("key"), "lsn", 4)(
      (1L to 40L).map(k => (k, k, s"v$k")).toDF("key", "lsn", "v"), 0L)
    // a replay (or a redeploy with a changed default) passes NB=16; the
    // _graft_buckets marker must win, or key 7's update would land in a
    // 16-bucket slot while its old row sits in a 4-bucket one — split
    // brain: both rows visible, latest-state broken
    streaming.ChangeLogStream.upsertBatch(dir, Seq("key"), "lsn", 16)(
      Seq((7L, 100L, "v7new")).toDF("key", "lsn", "v"), 1L)
    val buckets = new java.io.File(dir).list().filter(_.startsWith("__bucket=")).toSeq
    assert(buckets.forall(_.stripPrefix("__bucket=").toInt < 4),
      s"must keep the pinned 4-bucket layout: $buckets")
    val key7 = streaming.ChangeLogStream.readState(spark, dir)
      .filter($"key" === 7L).select($"lsn", $"v").as[(Long, String)].collect().toSeq
    assert(key7 === Seq((100L, "v7new")), s"exactly one, updated, row: $key7")
  }

  test("point lookup reads the pinned bucket count: wrong caller NB still hits") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_blookup").toString + "/state"
    streaming.ChangeLogStream.upsertBatch(dir, Seq("key"), "lsn", 4)(
      (1L to 40L).map(k => (k, k, s"v$k")).toDF("key", "lsn", "v"), 0L)
    // a caller whose config drifted from the table's pinned layout used
    // to probe hash(key) mod CALLER_NB — the wrong directory — and
    // silently read empty. The marker must win for every key and for
    // every wrong caller value (incl. the no-arg default).
    for (k <- 1L to 40L) {
      val hits = streaming.ChangeLogStream
        .stateForKey(spark, dir, Seq("key"), Seq(k), numBuckets = 16)
        .select($"v").as[String].collect().toSeq
      assert(hits === Seq(s"v$k"), s"key $k with caller NB=16")
      val defaultHits = streaming.ChangeLogStream
        .stateForKey(spark, dir, Seq("key"), Seq(k))
        .select($"v").as[String].collect().toSeq
      assert(defaultHits === Seq(s"v$k"), s"key $k with marker-only lookup")
    }
    // a markerless directory with no explicit count must refuse loudly,
    // not guess a layout
    val bare = java.nio.file.Files.createTempDirectory("graft_bnomarker").toString
    Seq((1L, 1L, "x")).toDF("key", "lsn", "v")
      .withColumn(streaming.ChangeLogStream.BucketCol, lit(0))
      .write.partitionBy(streaming.ChangeLogStream.BucketCol)
      .mode("overwrite").parquet(bare)
    intercept[IllegalArgumentException] {
      streaming.ChangeLogStream.stateForKey(spark, bare, Seq("key"), Seq(1L))
    }
  }

  test("bucketed upsert restores a bucket caught between the two renames") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_brecover").toString + "/state"
    val sink = streaming.ChangeLogStream.upsertBatch(dir, Seq("key"), "lsn", 4) _
    sink((1L to 40L).map(k => (k, k, s"v$k")).toDF("key", "lsn", "v"), 0L)
    // simulate a crash in the swap window: live bucket moved aside,
    // staged copy never published → target missing, backup present
    val victim = new java.io.File(dir).list().filter(_.startsWith("__bucket=")).head
    val backupRoot = new java.io.File(dir + "__prev")
    assert(backupRoot.mkdirs())
    assert(new java.io.File(dir, victim).renameTo(new java.io.File(backupRoot, victim)))
    assert(!new java.io.File(dir, victim).exists())
    // the next batch's recovery sweep must restore the bucket BEFORE
    // merging, so no key is ever dropped
    sink(Seq((1L, 100L, "v1new")).toDF("key", "lsn", "v"), 1L)
    assert(new java.io.File(dir, victim).exists() && !backupRoot.exists())
    val state = streaming.ChangeLogStream.readState(spark, dir)
      .select($"key", $"lsn").as[(Long, Long)].collect().toSet
    assert(state === (1L to 40L).map(k => if (k == 1L) (1L, 100L) else (k, k)).toSet)
  }

  test("bucketed upsert survives an upstream ADD COLUMN (schema evolution)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bevolve").toString + "/state"
    val sink = streaming.ChangeLogStream.upsertBatch(dir, Seq("key"), "lsn", 4) _
    sink((1L to 20L).map(k => (k, k, s"v$k")).toDF("key", "lsn", "v"), 0L)
    // the upstream table grows a column mid-stream; only key 1's bucket
    // is rewritten — other buckets keep the OLD file schema on disk
    sink(Seq((1L, 100L, "v1new", "x")).toDF("key", "lsn", "v", "extra"), 1L)
    val state = streaming.ChangeLogStream.readState(spark, dir)
    assert(state.schema.fieldNames.contains("extra"))
    val rows = state.select($"key", $"v", coalesce($"extra", lit("-")))
      .as[(Long, String, String)].collect().toSet
    val expected = (1L to 20L).map(k =>
      if (k == 1L) (1L, "v1new", "x") else (k, s"v$k", "-")).toSet
    assert(rows === expected)
    // and the narrower side works too: a later batch WITHOUT the new
    // column upserts fine, its rows surfacing NULL extra
    sink(Seq((2L, 200L, "v2new")).toDF("key", "lsn", "v"), 2L)
    val after = streaming.ChangeLogStream.readState(spark, dir)
      .filter($"key".isin(1L, 2L))
      .select($"key", $"v", coalesce($"extra", lit("-")))
      .as[(Long, String, String)].collect().toSet
    assert(after === Set((1L, "v1new", "x"), (2L, "v2new", "-")))
    // a lookup of a key whose bucket still holds the old file schema
    // reads `extra` as NULL
    val b = (k: Long) => spark.range(1).select(lit(k).as("key"))
      .select(streaming.ChangeLogStream.bucketOf(Seq("key"), 4)).head.getInt(0)
    val old = (3L to 20L).find(k => !Set(b(1L), b(2L)).contains(b(k))).get
    val hit = streaming.ChangeLogStream.stateForKey(spark, dir, Seq("key"), Seq(old))
      .select($"v", $"extra").as[(String, Option[String])].collect().toSeq
    assert(hit === Seq((s"v$old", None)))
    // both readers type the store as a mergeSchema read of it does
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    def byName(s: org.apache.spark.sql.types.StructType) = s.fields.map(f => f.name -> f.dataType).toMap
    assert(byName(streaming.ChangeLogStream.readState(spark, dir).schema) ===
      byName(merged.drop(streaming.ChangeLogStream.BucketCol).schema))
    assert(byName(streaming.ChangeLogStream.stateForKey(spark, dir, Seq("key"), Seq(old)).schema) ===
      byName(merged.schema))
    // a conflicting column type still fails loudly: one file whose `v`
    // is an int
    plant(Seq((99L, 1L, 1)).toDF("key", "lsn", "v"), dir, b(old))
    val e = intercept[org.apache.spark.SparkException] {
      streaming.ChangeLogStream.readState(spark, dir).collect()
    }
    assert(e.getMessage.contains("CANNOT_MERGE_SCHEMAS"), e.getMessage)
    intercept[org.apache.spark.SparkException] {
      streaming.ChangeLogStream.stateForKey(spark, dir, Seq("key"), Seq(old))
    }
    // a store with no data file has no schema to merge: readers fail as
    // Spark's inference does, they do not guess one
    val empty = java.nio.file.Files.createTempDirectory("graft_bempty").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(empty, "_graft_buckets"), "4")
    for (read <- Seq(() => streaming.ChangeLogStream.readState(spark, empty),
        () => streaming.ChangeLogStream.stateForKey(spark, empty, Seq("key"), Seq(1L)))) {
      val e = intercept[org.apache.spark.sql.AnalysisException](read())
      assert(e.getMessage.contains("UNABLE_TO_INFER_SCHEMA"), e.getMessage)
    }
  }

  test("batch-incremental consumption drives the bucketed upsert (scheduled-job mode)") {
    // the reference's scheduled-consumer pattern without a streaming
    // query: LsnCheckpoint hands each run only the post-checkpoint
    // increment; the bucketed sink merges it idempotently. Crash-replay
    // safety falls out of the composition: a failed run leaves the
    // checkpoint untouched, the retry re-merges the same increment.
    import spark.implicits._
    import graft.pipeline.LsnCheckpoint
    val base = java.nio.file.Files.createTempDirectory("graft_increment").toString
    val (ckpt, dir) = (s"$base/ckpt", s"$base/state")
    def run(events: org.apache.spark.sql.DataFrame): Long =
      LsnCheckpoint.consumeIncrement(events, "lsn", ckpt)(inc =>
        streaming.ChangeLogStream.upsertBatch(dir, Seq("key"), "lsn", 4)(inc, 0L))
    val epoch1 = Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("lsn", "key", "v")
    assert(run(epoch1) === 2L)
    // next scheduled run sees old + new rows; only the delta processes
    val epoch2 = epoch1.union(Seq((3L, 10L, "a2")).toDF("lsn", "key", "v"))
    assert(run(epoch2) === 1L, "must consume ONLY the post-checkpoint increment")
    assert(run(epoch2) === 0L, "nothing new → no work, no state change")
    val state = streaming.ChangeLogStream.readState(spark, dir)
      .select($"key", $"v").as[(Long, String)].collect().toSet
    assert(state === Set((10L, "a2"), (20L, "b")))
  }

  test("routeToTables: one directory per routed table, pruned reads") {
    val dir = java.nio.file.Files.createTempDirectory("graft_route").toString + "/t"
    val env = pipeline.Envelope.toCdcEventsStreaming(
      sources.Tables.events(spark, "/root/testdata/sf0.001")).toDF()
      .withColumn("tableName",
        when(col("op").isin("insert", "delete"), "users").otherwise("activity"))
    streaming.ChangeLogStream.routeToTables(env, dir)
    // physical layout: cdc_<schema>_<table> as directories
    val sub = new java.io.File(s"$dir/schemaName=public").list().sorted
    assert(sub.toSeq === Seq("tableName=activity", "tableName=users"))
    // per-index reader prunes the other table at the directory level
    val users = streaming.ChangeLogStream.readTable(spark, dir, "public", "users")
    val scan = users.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
      .contains("tableName"), scan)
    assert(users.select("op").distinct().collect().map(_.getString(0)).toSet ===
      Set("insert", "delete"))
    // append of a second batch never rewrites the first
    val before = users.count()
    streaming.ChangeLogStream.routeToTables(env.limit(0), dir) // empty append ok
    streaming.ChangeLogStream.routeToTables(
      env.filter(col("tableName") === "users").limit(5), dir)
    assert(streaming.ChangeLogStream.readTable(spark, dir, "public", "users")
      .count() === before + 5)
  }

  test("a point lookup lists and opens one bucket; a warm batch lists and reads only its touched buckets") {
    // the schema marker makes the store's schema table metadata: without
    // it a lookup globbed every bucket and read every footer, and the
    // merge listed the whole store, so both grew with the store
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftcount.impl", classOf[CountingFs].getName)
    conf.setBoolean("fs.graftcount.impl.disable.cache", true)
    val dir = "graftcount://" +
      java.nio.file.Files.createTempDirectory("graft_count").toString + "/state"
    val local = new java.net.URI(dir).getPath
    val nb = 64
    val sink = streaming.ChangeLogStream.upsertBatch(dir, Seq("key"), "lsn", nb) _
    sink((1L to 2000L).map(k => (k, k, s"v$k")).toDF("key", "lsn", "v"), 0L)
    def bucket(k: Long) = spark.range(1).select(lit(k).as("key"))
      .select(streaming.ChangeLogStream.bucketOf(Seq("key"), nb)).head.getInt(0)
    assert((1L to 2000L).map(bucket).toSet.size === nb, "fixture: every bucket holds data")
    def dataFiles(b: Int) = new java.io.File(s"$local/__bucket=$b").list()
      .filter(n => !n.startsWith(".") && !n.startsWith("_")).map(n => s"$local/__bucket=$b/$n").toSeq
    val markers = Set(s"$local/_graft_buckets", s"$local/_graft_schema")

    val b7 = bucket(7L)
    CountingFs.reset()
    val hit = streaming.ChangeLogStream.stateForKey(spark, dir, Seq("key"), Seq(7L))
      .select($"v").as[String].collect().toSeq
    assert(hit === Seq("v7"))
    assert(CountingFs.listed === Seq(s"$local/__bucket=$b7"), "a lookup lists its bucket only")
    val opened = CountingFs.opened
    assert(opened.toSet === markers ++ dataFiles(b7), "a lookup opens its bucket's files and the markers")
    assert(dataFiles(b7).forall(f => opened.count(_ == f) == 1), s"each data file once: $opened")

    val keys = Seq(3L, 50L, 99L, 400L, 777L, 1200L, 1500L, 1999L)
    val touched = keys.map(bucket).toSet
    CountingFs.reset()
    sink(keys.map(k => (k, 5000L + k, s"w$k")).toDF("key", "lsn", "v"), 1L)
    def inStore(p: String) = p.startsWith(s"$local/")
    def inTouched(p: String) = touched.exists(b => p == s"$local/__bucket=$b" || p.startsWith(s"$local/__bucket=$b/"))
    val strayListed = CountingFs.listed.filter(p => inStore(p) && !inTouched(p))
    val strayOpened = CountingFs.opened.filter(p => inStore(p) && !inTouched(p) && !markers(p))
    assert(strayListed.isEmpty, s"a warm batch listed untouched paths of the store: $strayListed")
    assert(strayOpened.isEmpty, s"a warm batch opened untouched files of the store: $strayOpened")
    assert(CountingFs.opened.exists(p => inStore(p) && inTouched(p)), "the merge reads its touched buckets")
    val state = streaming.ChangeLogStream.readState(spark, dir)
      .select($"key", $"v").as[(Long, String)].collect().toMap
    assert(state.size === 2000 && keys.forall(k => state(k) == s"w$k") && state(7L) === "v7")
  }

  test("source audit: no parquet reader builder and no configuration parse in src/main") {
    // `ParquetReader.builder(support, path)` and `new Configuration()`
    // both parse Hadoop's default resources: a point lookup paid 10 ms
    // for it on every call
    def scalaFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
      }
    val files = scalaFiles(new java.io.File("src/main/scala"))
    val banned = Seq("ParquetReader.builder(", "new Configuration()",
      "new org.apache.hadoop.conf.Configuration()")
    val offenders = files.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      banned.filter(text.contains).map(w => s"${f.getPath}: $w")
    }
    assert(offenders.isEmpty, s"""configuration parse in src/main:
         |  ${offenders.mkString("\n  ")}""".stripMargin)
    assert(files.exists(_.getName == "ChangeLogStream.scala"), "the scan must see the source tree")
  }
}

/** A local file system under its own scheme that records the paths of
  * its `listStatus` and `open` calls, in call order.
  */
class CountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftcount:///")
  override def getScheme: String = "graftcount"
  override def listStatus(p: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingFs.listedQ.add(p.toUri.getPath)
    super.listStatus(p)
  }
  override def open(p: org.apache.hadoop.fs.Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    CountingFs.openedQ.add(p.toUri.getPath)
    super.open(p, bufferSize)
  }
}

object CountingFs {
  private val listedQ = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val openedQ = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def reset(): Unit = { listedQ.clear(); openedQ.clear() }
  def listed: Seq[String] = listedQ.toArray(Array.empty[String]).toSeq
  def opened: Seq[String] = openedQ.toArray(Array.empty[String]).toSeq
}

object SinkSpec {

  /** Writes `rows` as one valid parquet data file into bucket `b` of the
    * store at `dir`, beside the files the sink wrote there, and returns it.
    */
  def plant(rows: org.apache.spark.sql.DataFrame, dir: String, b: Int): java.io.File = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_plant").toString + "/p"
    rows.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().filter(_.getName.startsWith("part-")).head
    val planted = new java.io.File(dir, s"${streaming.ChangeLogStream.BucketCol}=$b/part-planted.parquet")
    assert(part.renameTo(planted))
    planted
  }
}
