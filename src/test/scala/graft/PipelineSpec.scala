package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.ChangeLog

object TestSession {
  /** The suites call module query maps and operator internals directly,
    * past the install that `SparkEntry.queries` does, so the shared
    * session gets graft's set-up once, here. `spark.newSession()` stays
    * bare. Spark logs at WARN, as under Verify: no assertion reads the
    * log, and INFO wrote about half a million lines per full test run.
    */
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.install(s)
    s
  }
}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def changelog = Seq(
    // (lsn, key, op, payload)
    (1L, "u1", "insert", "a"),
    (2L, "u1", "update", "b"),
    (3L, "u2", "insert", "c"),
    (4L, "u1", "update", "d"),
    (5L, "u2", "delete", ""),
    (6L, "u3", "insert", "e")
  ).toDF("lsn", "key", "op", "payload")

  test("incremental sum telescopes to the latest-state value per key") {
    // The IVM invariant behind cdc_incremental_sum: signed deltas
    // (insert +v, delete −before, update after−before) telescope, so
    // maintaining a SUM from the changelog must equal reading the
    // materialized latest state — 0 for tombstoned keys. Holds for
    // PROTOCOL-CONSISTENT logs (an insert implies no live prior state;
    // the test corpus's event_type→op mapping violates that, which is
    // why this runs on a consistent log, not the corpus).
    import graft.pipeline.Envelope
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:${m}%02d:00")
    val events = Seq(
      // u7: full lifecycle incl. tombstone + re-insert
      (1L, t(1), 7L, "signup", 5.0, """{"k":1}"""),
      (2L, t(2), 7L, "click", 7.0, """{"k":2}"""),
      (3L, t(3), 7L, "error", 0.0, """{"k":3}"""),
      (4L, t(4), 7L, "signup", 9.0, """{"k":4}"""),
      // u8: capture starts mid-life (update with no before → baseline 0)
      (5L, t(5), 8L, "click", 4.0, """{"k":5}"""),
      (6L, t(6), 8L, "purchase", 6.0, """{"k":6}"""),
      // u9: ends tombstoned
      (7L, t(7), 9L, "signup", 3.5, """{"k":7}"""),
      (8L, t(8), 9L, "error", 0.0, """{"k":8}""")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val env = Envelope.toCdcEvents(events).toDF()
    val beforeV = element_at(col("before"), "value").cast("double")
    val afterV = element_at(col("after"), "value").cast("double")
    val delta = when(col("op") === "insert", afterV)
      .when(col("op") === "delete", -coalesce(beforeV, lit(0.0)))
      .otherwise(afterV - coalesce(beforeV, lit(0.0)))
    val incremental = env.select(col("key"), delta.as("d"))
      .groupBy("key")
      .agg(sum(col("d").cast("decimal(25,6)")).cast("double").as("net"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val latest = ChangeLog.latestState(env, Seq("key"), "lsn")
      .select(col("key"), col("op"),
        coalesce(afterV, lit(0.0)).as("v"))
      .collect().map(r => r.getString(0) ->
        (if (r.getString(1) == "delete") 0.0 else r.getDouble(2))).toMap
    assert(incremental.keySet === latest.keySet)
    incremental.foreach { case (k, net) =>
      assert(math.abs(net - latest(k)) < 1e-6, s"key $k: $net vs ${latest(k)}")
    }
    assert(incremental.nonEmpty)
  }

  test("latestState keeps exactly the max-lsn row per key") {
    val out = ChangeLog.latestState(changelog, Seq("key"), "lsn")
      .select("key", "lsn", "payload").as[(String, Long, String)]
      .collect().toSet
    assert(out === Set(("u1", 4L, "d"), ("u2", 5L, ""), ("u3", 6L, "e")))
  }

  test("latestStateWithTombstones drops keys whose latest op is delete") {
    val out = ChangeLog.latestStateWithTombstones(
      changelog, Seq("key"), "lsn", col("op") === "delete")
      .select("key").as[String].collect().toSet
    assert(out === Set("u1", "u3"))
  }

  test("tombstoned key reappears if re-inserted later") {
    val withReinsert = changelog.union(
      Seq((7L, "u2", "insert", "z")).toDF("lsn", "key", "op", "payload"))
    val out = ChangeLog.latestStateWithTombstones(
      withReinsert, Seq("key"), "lsn", col("op") === "delete")
      .select("key", "payload").as[(String, String)].collect().toSet
    assert(out === Set(("u1", "d"), ("u3", "e"), ("u2", "z")))
  }

  test("replay is idempotent: duplicated log yields identical latest state") {
    val doubled = changelog.union(changelog)
    val once = ChangeLog.latestState(
      ChangeLog.replayDedup(changelog, "lsn"), Seq("key"), "lsn").collect().toSet
    val twice = ChangeLog.latestState(
      ChangeLog.replayDedup(doubled, "lsn"), Seq("key"), "lsn").collect().toSet
    assert(once === twice)
  }

  test("latest state is invariant under input permutation") {
    val shuffled = changelog.orderBy(rand(seed = 7))
    val a = ChangeLog.latestState(changelog, Seq("key"), "lsn").collect().toSet
    val b = ChangeLog.latestState(shuffled, Seq("key"), "lsn").collect().toSet
    assert(a === b)
  }

  test("scd2 intervals tile each key's history: no gaps, no overlaps, one current") {
    val iv = SparkEntry.queries("cdc_scd2_intervals")(spark, "/root/testdata/sf0.001")
      .select("user_id", "version", "valid_from_lsn", "valid_to_lsn", "is_current")
      .collect()
      .groupBy(_.getLong(0))
    iv.foreach { case (uid, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      // versions are 1..n dense
      assert(sorted.map(_.getInt(1)).toSeq === (1 to rows.length),
        s"user $uid: versions not dense")
      // interval k closes exactly where interval k+1 opens
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(!a.isNullAt(3) && a.getLong(3) === b.getLong(2),
            s"user $uid: gap/overlap between v${a.getInt(1)} and v${b.getInt(1)}")
        case _ =>
      }
      // exactly the last interval is current (open-ended)
      assert(sorted.count(_.getBoolean(4)) === 1 && sorted.last.getBoolean(4),
        s"user $uid: current-version invariant broken")
    }
  }

  test("log compaction preserves latest-state per key and bounds rows by keys x days") {
    val sfDir = "/root/testdata/sf0.001"
    val compact = SparkEntry.queries("cdc_log_compact")(spark, sfDir)
    // the compacted log's last cell per key equals the full log's latest state
    val fromCompact = ChangeLog.latestState(
      compact.select($"user_id", $"day", $"last_lsn".as("event_id"),
        $"last_event_type".as("event_type"), $"last_value".as("value")),
      Seq("user_id"), "event_id")
      .select("user_id", "event_id", "event_type").collect().toSet
    val direct = ChangeLog.latestState(
      sources.Tables.events(spark, sfDir), Seq("user_id"), "event_id")
      .select("user_id", "event_id", "event_type").collect().toSet
    assert(fromCompact === direct, "compaction must not lose the latest state")
    // row bound: one row per (key, day) cell, and the collapse counts
    // account for every original event
    val cells = compact.count()
    assert(cells === compact.select("user_id", "day").distinct().count())
    val collapsed = compact.agg(sum("n_collapsed")).head.getLong(0)
    assert(collapsed === sources.Tables.events(spark, sfDir).count())
  }

  test("join-IVM telescopes: folding per-batch increments equals the direct join") {
    // Split the log into 3 LSN epochs, maintain the joined view by
    // folding one increment per epoch (Δfacts ⋈ dim, merged by
    // re-aggregation), and compare against the one-shot join+agg.
    val sfDir = "/root/testdata/sf0.001"
    val e = sources.Tables.events(spark, sfDir)
    val dim = sources.Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_mktsegment")
    val maxId = e.agg(org.apache.spark.sql.functions.max("event_id")).head.getLong(0)
    val cuts = Seq(0L, maxId / 3, 2 * maxId / 3, maxId)
    def inc(lo: Long, hi: Long) =
      e.filter($"event_id" > lo && $"event_id" <= hi)
        .join(dim, $"user_id" === $"c_custkey")
        .groupBy("c_mktsegment")
        .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"),
          org.apache.spark.sql.functions.sum(
            $"value".cast("decimal(25,6)")).as("v"))
    val folded = cuts.sliding(2).map { case Seq(lo, hi) => inc(lo, hi) }
      .reduce(_ unionByName _)
      .groupBy("c_mktsegment")
      .agg(org.apache.spark.sql.functions.sum("n").as("n_events"),
        org.apache.spark.sql.functions.sum("v").cast("double").as("total_value"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val direct = inc(0L, maxId)
      .select($"c_mktsegment", $"n".as("n_events"),
        $"v".cast("double").as("total_value"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(folded === direct,
      "per-epoch increments must telescope to the one-shot join exactly")
    assert(folded.nonEmpty)
  }

  test("snapshot diff replays the old state into the new state") {
    // THE defining property of a changelog: old ⊕ diff = new. Apply the
    // emitted ops to the old materialized state and compare against the
    // directly-computed new state.
    val sfDir = "/root/testdata/sf0.001"
    val e = sources.Tables.events(spark, sfDir)
    val fenceVal = e.agg(org.apache.spark.sql.functions.expr("max(event_id) div 2"))
      .head.getLong(0)
    def state(src: org.apache.spark.sql.DataFrame) =
      ChangeLog.latestStateWithTombstones(
        src.select("user_id", "event_id", "event_type", "value"),
        Seq("user_id"), "event_id", org.apache.spark.sql.functions
          .col("event_type") === "error")
        .select($"user_id", $"event_id".as("lsn"), $"value")
    val oldState = state(e.filter($"event_id" <= fenceVal))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val newState = state(e)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val diff = pipeline.CdcQueries.queries("cdc_snapshot_diff")(spark, sfDir)
      .collect()
    assert(diff.nonEmpty, "half the log must produce a nonempty diff")
    val replayed = diff.foldLeft(oldState) { (st, r) =>
      r.getAs[String]("op") match {
        case "delete" => st - r.getLong(0)
        case _ => st + (r.getLong(0) ->
          (r.getAs[Long]("new_lsn"), r.getAs[Double]("new_value")))
      }
    }
    assert(replayed === newState, "old state + diff must equal new state")
    // minimality: no emitted row is a no-op
    assert(!diff.exists(r => r.getAs[String]("op") == "update" &&
      r.getAs[Long]("old_lsn") == r.getAs[Long]("new_lsn")))
  }

  test("fenceUnion dedups the snapshot/stream overlap window") {
    val snapshot = changelog.filter($"lsn" <= 4)
    val stream = changelog.filter($"lsn" >= 3) // overlap at 3,4
    val merged = ChangeLog.fenceUnion(snapshot, stream, "lsn")
    assert(merged.count() === 6)
    val latest = ChangeLog.latestState(merged, Seq("key"), "lsn").collect().toSet
    val direct = ChangeLog.latestState(changelog, Seq("key"), "lsn").collect().toSet
    assert(latest === direct)
  }

  test("low watermark: exactly one global minimum, lag zero only at the head, laggard flagged") {
    val sfDir = "/root/testdata/sf0.001"
    val lw = graft.pipeline.CdcQueries
      .queries("cdc_low_watermark")(spark, sfDir).collect()
    assert(lw.nonEmpty)
    val low = lw.map(_.getAs[Long]("acked_lsn")).min
    assert(lw.forall(_.getAs[Long]("low_watermark") === low))
    assert(lw.filter(_.getAs[Boolean]("is_laggard"))
      .forall(_.getAs[Long]("acked_lsn") === low))
    assert(lw.count(_.getAs[Boolean]("is_laggard")) >= 1)
    val head = lw.map(_.getAs[Long]("acked_lsn")).max
    lw.foreach { r =>
      assert(r.getAs[Long]("lag") >= 0)
      assert(r.getAs[Long]("acked_lsn") + r.getAs[Long]("lag") >= head)
    }
  }

  test("tombstone GC: outcomes partition the key space; live keys are exactly the latest-state keys") {
    val sfDir = "/root/testdata/sf0.001"
    val gc = graft.pipeline.CdcQueries
      .queries("cdc_tombstone_gc")(spark, sfDir).persist()
    val nUsers = graft.sources.Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    assert(gc.count() === nUsers, "one verdict per key, no key dropped")
    assert(gc.filter(!col("outcome")
      .isin("live", "tombstone_retained", "purged")).count() === 0)
    // 'live' ⟺ last op is not a delete; deletes split by the horizon
    assert(gc.filter(col("outcome") === "live")
      .filter(col("last_op") === "delete").count() === 0)
    assert(gc.filter(col("outcome") =!= "live")
      .filter(col("last_op") =!= "delete").count() === 0)
    // the GC never retains a tombstone older than one it purges
    val agg = gc.agg(
      min(when(col("outcome") === "tombstone_retained", col("last_lsn")))
        .as("min_kept"),
      max(when(col("outcome") === "purged", col("last_lsn"))).as("max_purged"))
      .collect()(0)
    if (!agg.isNullAt(0) && !agg.isNullAt(1))
      assert(agg.getLong(0) > agg.getLong(1))
    gc.unpersist()
  }

  test("projectAsOf: interval semantics, no silent drops, no identity collapse") {
    import graft.pipeline.RelationRegistry
    // Four hand-built events covering every r16 branch:
    //  lsn 5  t1 — before t1's first registration (10) → NULL projection, KEPT
    //  lsn 10 t1 — exactly at v0's lsn → v0 (a,b)
    //  lsn 15 t1 ×2 — SAME (lsn, key), different payloads: both must
    //     survive (the r15 window partitioned by (lsn, key) collapsed
    //     these to one row)
    //  lsn 25 t1 — at v1's lsn, where TWO registrations share lsn 20:
    //     the wider (a,b,c) must win the tie-break
    //  lsn 30 t9 — relation never registered → NULL projection, KEPT
    val events = Seq(
      (5L, "k1", "t1", Map("a" -> "1", "b" -> "2", "c" -> "3")),
      (10L, "k1", "t1", Map("a" -> "4", "b" -> "5", "c" -> "6")),
      (15L, "k1", "t1", Map("a" -> "7", "b" -> "8", "c" -> "9")),
      (15L, "k1", "t1", Map("a" -> "70", "b" -> "80", "c" -> "90")),
      (25L, "k1", "t1", Map("a" -> "10", "b" -> "11", "c" -> "12")),
      (30L, "k1", "t9", Map("a" -> "13")))
      .toDF("lsn", "key", "tableName", "after")
    val log = Seq(
      ("t1", 10L, Seq("a", "b")),
      ("t1", 20L, Seq("a", "b", "c")),
      ("t1", 20L, Seq("a"))) // same-lsn narrower re-registration
      .toDF("relation", "lsn", "columns")
    val out = RelationRegistry.projectAsOf(events, log)
      .select(col("lsn"), col("tableName"),
        size(col("columns")).as("n"),
        element_at(col("after"), "c").as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -99 else r.getInt(2),
        if (r.isNullAt(3)) null else r.getString(3)))
    assert(out.length === 6, "every event survives — no silent drop")
    val byLsn = out.groupBy(_._1)
    // pre-registration and unregistered-relation events: NULL projection
    assert(byLsn(5L).head._3 === -99 && byLsn(5L).head._4 === null)
    assert(byLsn(30L).head._3 === -99 && byLsn(30L).head._4 === null)
    // v0 window: 2 columns, c NOT visible even though the payload has it
    assert(byLsn(10L).head._3 === 2 && byLsn(10L).head._4 === null)
    // the two (lsn=15, key=k1) events both survive, payloads distinct
    assert(byLsn(15L).length === 2)
    // v1 window with the same-lsn tie-break: wider schema (3 cols) wins
    assert(byLsn(25L).head._3 === 3 && byLsn(25L).head._4 === "12")
  }
}
