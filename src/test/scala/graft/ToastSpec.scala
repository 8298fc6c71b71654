package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.CdcEvent
import graft.pipeline.{ChangeLog, Envelope}

/** TOAST `'u'` sentinel semantics (SURVEY §7.5.5): the carry-forward
  * merge over a log with unchanged-column markers must converge to the
  * SAME state as plain latest-state over the fully-materialized log.
  * The reference cannot satisfy this — it stores the literal string
  * `"(unchanged)"` as the value (replicator.go:349-350), so its
  * downstream state diverges from the source table on every TOAST'd
  * update.
  */
class ToastSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def ev(op: String, lsn: Long, uid: Long,
      after: Map[String, String], unchanged: Seq[String]): CdcEvent =
    CdcEvent(op, "public", "users", lsn,
      new Timestamp(1700000000000L + lsn * 1000), s"public.users:$uid",
      Map.empty, if (op == "delete") Map.empty else after, lsn / 100, null,
      if (unchanged == null || unchanged.isEmpty) null else unchanged)

  test("property: carry-forward over TOAST'd logs == latest state of the materialized log") {
    // Honest TOAST model: the generator maintains real per-key state;
    // an update KEEPS each payload column with probability 1/2 (what
    // real apps do to TOASTed blobs) and the wire form then erases
    // exactly the kept columns (null + flag). Deletes wipe state;
    // inserts restart it. 30 seeded histories, ~200 events each,
    // protocol-consistent (insert iff dead, update/delete iff live).
    import spark.implicits._
    val cols = Seq("value", "k")
    for (sample <- 0 until 30) {
      val rnd = new scala.util.Random(0x70A57 + sample)
      val users = 1L to (3L + sample % 4)
      var state = Map.empty[Long, Map[String, String]]
      var lsn = 0L
      val toasted = Vector.newBuilder[CdcEvent]
      val materialized = Vector.newBuilder[CdcEvent]
      for (_ <- 0 until 150 + rnd.nextInt(100)) {
        val uid = users(rnd.nextInt(users.size))
        lsn += 1 + rnd.nextInt(3) // gappy, strictly increasing LSNs
        state.get(uid) match {
          case None => // dead → insert with fresh values
            val full = Map("user_id" -> uid.toString) ++
              cols.map(c => c -> rnd.nextInt(1000).toString)
            state += uid -> full
            toasted += ev("insert", lsn, uid, full, null)
            materialized += ev("insert", lsn, uid, full, null)
          case Some(prev) if rnd.nextInt(4) == 0 => // live → delete
            state -= uid
            toasted += ev("delete", lsn, uid, Map.empty, null)
            materialized += ev("delete", lsn, uid, Map.empty, null)
          case Some(prev) => // live → update; each col kept w.p. 1/2
            val kept = cols.filter(_ => rnd.nextBoolean())
            val full = Map("user_id" -> uid.toString) ++
              cols.map(c =>
                c -> (if (kept.contains(c)) prev(c)
                      else rnd.nextInt(1000).toString))
            state += uid -> full
            // wire form: kept columns erased to null + flagged
            val wire = full.map { case (c, v) =>
              c -> (if (kept.contains(c)) null else v)
            }
            toasted += ev("update", lsn, uid, wire, kept)
            materialized += ev("update", lsn, uid, full, null)
        }
      }
      val got = ChangeLog
        .latestStateCarryForward(spark.createDataset(toasted.result()).toDF())
        .select(col("key"), col("state"))
        .as[(String, Map[String, String])].collect().toMap
      // reference 1: the generator's own final state
      val want = state.map { case (uid, m) => s"public.users:$uid" -> m }
      assert(got === want, s"sample $sample: drift vs generator state")
      // reference 2: plain latest-state (with tombstones) over the
      // MATERIALIZED log — the fold the reference would need a second
      // full-value stream to run
      val mat = spark.createDataset(materialized.result()).toDF()
      val plain = ChangeLog
        .latestStateWithTombstones(mat, Seq("key"), "lsn", col("op") === "delete")
        .select(col("key"), col("after")).as[(String, Map[String, String])]
        .collect().toMap
      assert(got === plain, s"sample $sample: drift vs materialized log")
    }
  }

  test("a marked column carries forward; an unmarked null is a real SET NULL") {
    import spark.implicits._
    val log = Seq(
      ev("insert", 1, 7, Map("user_id" -> "7", "value" -> "10", "k" -> "a"), null),
      // TOAST'd update: k not re-shipped — must keep "a"
      ev("update", 2, 7, Map("user_id" -> "7", "value" -> "20", "k" -> null), Seq("k")),
      // genuine SET NULL on value: null WITHOUT the flag — must become null
      ev("update", 3, 7, Map("user_id" -> "7", "value" -> null, "k" -> "b"), null))
    val got = ChangeLog
      .latestStateCarryForward(spark.createDataset(log).toDF())
      .select(col("state")).as[Map[String, String]].head()
    assert(got === Map("user_id" -> "7", "value" -> null, "k" -> "b"))
    // and with event 3 absent, k carries "a" through the marker
    val got2 = ChangeLog
      .latestStateCarryForward(spark.createDataset(log.take(2)).toDF())
      .select(col("state")).as[Map[String, String]].head()
    assert(got2 === Map("user_id" -> "7", "value" -> "20", "k" -> "a"))
  }

  test("delete fences the carry-forward: a marker never resurrects pre-delete values") {
    import spark.implicits._
    val log = Seq(
      ev("insert", 1, 9, Map("user_id" -> "9", "value" -> "1", "k" -> "old"), null),
      ev("delete", 2, 9, Map.empty, null),
      ev("insert", 3, 9, Map("user_id" -> "9", "value" -> "2", "k" -> "new"), null),
      ev("update", 4, 9, Map("user_id" -> "9", "value" -> "3", "k" -> null), Seq("k")))
    val got = ChangeLog
      .latestStateCarryForward(spark.createDataset(log).toDF())
      .select(col("state")).as[Map[String, String]].head()
    assert(got === Map("user_id" -> "9", "value" -> "3", "k" -> "new"))
    // key whose latest event is the delete fence disappears
    val gone = ChangeLog
      .latestStateCarryForward(spark.createDataset(log.take(2)).toDF())
    assert(gone.count() === 0)
  }

  test("carry-forward sink: marked columns heal from store state across batch boundaries") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the cell the plain sink CANNOT keep: insert lands in batch 0,
    // the marked update in batch 1 — the sink must heal k from the
    // bucket's stored state, not from anything in the batch
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cfsink").toString + "/state"
    val sink = streaming.ChangeLogStream.carryForwardRetentionUpsertBatch(dir, 4) _
    sink(spark.createDataset(Seq(
      ev("insert", 1, 7, Map("user_id" -> "7", "value" -> "10", "k" -> "a"), null)
    )).toDF(), 0L)
    sink(spark.createDataset(Seq(
      ev("update", 2, 7, Map("user_id" -> "7", "value" -> "20", "k" -> null), Seq("k"))
    )).toDF(), 1L)
    def state(): Map[String, (Long, Map[String, String])] = {
      // a fully-deleted store legitimately has zero bucket dirs
      val hasBuckets = Option(new java.io.File(dir).list())
        .getOrElse(Array.empty[String]).exists(_.startsWith("__bucket="))
      if (!hasBuckets) Map.empty
      else streaming.ChangeLogStream.readState(spark, dir).filter(!col("tombstone"))
        .select(col("key"), col("state_lsn"), col("state"))
        .as[(String, Long, Map[String, String])].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    }
    assert(state() === Map("public.users:7" ->
      (2L, Map("user_id" -> "7", "value" -> "20", "k" -> "a"))),
      "k must carry 'a' forward from the stored state")
    // replay of the same batch is a no-op
    sink(spark.createDataset(Seq(
      ev("update", 2, 7, Map("user_id" -> "7", "value" -> "20", "k" -> null), Seq("k"))
    )).toDF(), 2L)
    assert(state()("public.users:7")._2("k") === "a")
    // after a delete the key has no live row (a tombstone at most)
    sink(spark.createDataset(Seq(ev("delete", 3, 7, Map.empty, null))).toDF(), 3L)
    assert(state().isEmpty)
  }

  test("property: carry-forward sink over random batch splits == one-shot batch merge") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cols = Seq("value", "k")
    for (sample <- 0 until 8) {
      val rnd = new scala.util.Random(0x5EED + sample)
      val users = 1L to 5L
      var st = Map.empty[Long, Map[String, String]]
      var lsn = 0L
      val log = Vector.newBuilder[CdcEvent]
      for (_ <- 0 until 60) {
        val uid = users(rnd.nextInt(users.size))
        lsn += 1 + rnd.nextInt(3)
        st.get(uid) match {
          case None =>
            val full = Map("user_id" -> uid.toString) ++
              cols.map(c => c -> rnd.nextInt(100).toString)
            st += uid -> full
            log += ev("insert", lsn, uid, full, null)
          case Some(_) if rnd.nextInt(5) == 0 =>
            st -= uid
            log += ev("delete", lsn, uid, Map.empty, null)
          case Some(prev) =>
            val kept = cols.filter(_ => rnd.nextBoolean())
            val full = Map("user_id" -> uid.toString) ++
              cols.map(c => c -> (if (kept.contains(c)) prev(c)
                                  else rnd.nextInt(100).toString))
            st += uid -> full
            log += ev("update", lsn, uid,
              full.map { case (c, v) =>
                c -> (if (kept.contains(c)) null else v) },
              kept)
        }
      }
      val events = log.result()
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_cfprop_$sample").toString + "/state"
      val sink = streaming.ChangeLogStream.carryForwardRetentionUpsertBatch(dir, 3) _
      // random contiguous batch splits, occasional same-batch replay
      val cuts = (Seq(0, events.length) ++
        Seq.fill(rnd.nextInt(3))(rnd.nextInt(events.length + 1)))
        .distinct.sorted
      var id = 0L
      cuts.zip(cuts.tail).map { case (a, b) => events.slice(a, b) }
        .filter(_.nonEmpty).foreach { b =>
          val df = spark.createDataset(b).toDF()
          sink(df, id); id += 1
          if (rnd.nextInt(3) == 0) { sink(df, id); id += 1 }
        }
      val got = streaming.ChangeLogStream.readState(spark, dir).filter(!col("tombstone"))
        .select(col("key"), col("state"))
        .as[(String, Map[String, String])].collect().toMap
      val want = st.map { case (u, m) => s"public.users:$u" -> m }
      assert(got === want, s"sample $sample: sink drifted from generator state")
    }
  }

  /** Latest state through the batch law: key -> (state_lsn, state). */
  private def law(log: Seq[CdcEvent]): Map[String, (Long, Map[String, String])] = {
    import spark.implicits._
    ChangeLog.latestStateCarryForward(spark.createDataset(log).toDF())
      .select(col("key"), col("state_lsn"), col("state"))
      .as[(String, Long, Map[String, String])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
  }

  /** The retention sink's store after committing `batches` in order:
    * key -> (state_lsn, state, tombstone). */
  private def retained(batches: Seq[CdcEvent]*)
      : Map[String, (Long, Map[String, String], Boolean)] = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cfredge").toString + "/state"
    val sink = streaming.ChangeLogStream.carryForwardRetentionUpsertBatch(dir, 2) _
    batches.zipWithIndex.foreach { case (b, i) =>
      sink(spark.createDataset(b).toDF(), i.toLong) }
    val hasBuckets = Option(new java.io.File(dir).list())
      .getOrElse(Array.empty[String]).exists(_.startsWith("__bucket="))
    if (!hasBuckets) Map.empty
    else streaming.ChangeLogStream.readState(spark, dir)
      .select(col("key"), col("state_lsn"), col("state"), col("tombstone"))
      .as[(String, Long, Map[String, String], Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
  }

  test("edge: a live key whose only update marks every column unchanged has a NULL state") {
    val log = Seq(ev("update", 4, 3,
      Map("user_id" -> null, "value" -> null, "k" -> null),
      Seq("user_id", "value", "k")))
    assert(law(log) === Map("public.users:3" -> ((4L, null))))
    assert(retained(log) === Map("public.users:3" -> ((4L, null, false))))
  }

  test("edge: a SET NULL cell beats an older non-null value, within and across batches") {
    val ins = ev("insert", 1, 7, Map("user_id" -> "7", "value" -> "10"), null)
    val setNull = ev("update", 2, 7, Map("user_id" -> "7", "value" -> null), null)
    val want = Map("user_id" -> "7", "value" -> null)
    assert(law(Seq(ins, setNull)) === Map("public.users:7" -> ((2L, want))))
    assert(retained(Seq(ins, setNull)) === Map("public.users:7" -> ((2L, want, false))))
    assert(retained(Seq(ins), Seq(setNull)) === Map("public.users:7" -> ((2L, want, false))))
  }

  test("edge: a delete-only key has no live row and a tombstone only above the horizon") {
    // head 100 → horizon 75: the delete at 90 is retained, the one at 10 purged
    val log = Seq(
      ev("delete", 10, 1, Map.empty, null),
      ev("delete", 90, 2, Map.empty, null),
      ev("insert", 100, 3, Map("user_id" -> "3"), null))
    assert(law(log) === Map("public.users:3" -> ((100L, Map("user_id" -> "3")))))
    assert(retained(log) === Map(
      "public.users:2" -> ((90L, null, true)),
      "public.users:3" -> ((100L, Map("user_id" -> "3"), false))))
  }

  test("edge: a snapshot re-entering after a tombstone does not resurrect the key") {
    val ins = ev("insert", 1, 9, Map("user_id" -> "9", "value" -> "1"), null)
    val del = ev("delete", 5, 9, Map.empty, null)
    val snap = ev("snapshot", 3, 9, Map("user_id" -> "9", "value" -> "1"), null)
    assert(law(Seq(ins, del, snap)).isEmpty)
    // the fence held in the store, not in the batch, guards the key
    assert(retained(Seq(ins, del), Seq(snap)) ===
      Map("public.users:9" -> ((5L, null, true))))
  }

  test("toCdcEventsToast marks exactly the synthesis rule's columns") {
    val sfDir = "/root/testdata/sf0.001"
    val env = Envelope.toCdcEventsToast(
      graft.sources.Tables.events(spark, sfDir)).collect()
    assert(env.nonEmpty)
    env.foreach { e =>
      val unch = Option(e.unchangedCols).getOrElse(Seq.empty)
      if (e.op != "update") assert(unch.isEmpty, s"non-update marked: $e")
      else {
        assert(unch.contains("k") === (e.lsn % 3 == 0))
        assert(unch.contains("value") === (e.lsn % 5 == 0))
        // null-plus-flag: a marked column is present-and-null in after
        unch.foreach(c => assert(
          e.after.contains(c) && e.after(c) == null, s"marker not null: $e"))
      }
      // unmarked update columns keep real values
      if (e.op == "update" && !unch.contains("value"))
        assert(e.after("value") != null)
    }
    // the corpus actually exercises both markers (non-vacuous)
    assert(env.exists(e => e.op == "update" &&
      Option(e.unchangedCols).exists(_.contains("k"))))
    assert(env.exists(e => e.op == "update" &&
      Option(e.unchangedCols).exists(_.contains("value"))))
  }
}
