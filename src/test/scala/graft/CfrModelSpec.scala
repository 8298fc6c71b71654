package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.ChangeLogStream

// top-level for the Spark Encoder (the SinkModelSpec convention)
case class CfrOp(key: String, op: String, lsn: Long,
                 after: Map[String, String], unchangedCols: Array[String])

/** Model-based property test of the production per-table sink: the
  * COMBINED carry-forward + tombstone-retention merge behind the
  * TRUNCATE fence
  * (streaming/ChangeLogStream.carryForwardRetentionUpsertBatch, the
  * merge fullProductionBatch runs per table). Random envelope histories
  * (inserts, TOAST-marked updates, deletes, truncates; unique LSNs;
  * random contiguous batch splits; random batch replays; random mid-swap
  * crash injections) must converge to an independently-written
  * in-memory model of the batch-sequential law:
  *
  *   fence  = max truncate LSN ever applied (monotone); a truncate that
  *            advances it empties the store, and every row at or below
  *            it (truncates included) is dropped before the merge
  *   head   = monotone max LSN over each batch, truncates and stale
  *            rows included (persisted before each merge)
  *   per TOUCHED bucket (bucket locality is part of the contract —
  *   untouched buckets keep even expired tombstones, like log segments
  *   the cleaner hasn't visited):
  *     - prior live rows re-enter as snapshot events, prior tombstones
  *       as delete fences;
  *     - a key's delete fence hides all earlier events; later events
  *       restart it;
  *     - cell winner per column = the max-LSN live event that SHIPPED
  *       the column (marked-unchanged cells are absent, so older
  *       values heal through);
  *     - a fenced key survives as a tombstone only while its LSN is
  *       above the retention horizon head − head/4.
  *
  * Replays must be no-ops (the model applies each batch once; the sink
  * sees it twice). The crash injection moves a live bucket aside to
  * `__prev` with its staged copy never published, the window between
  * the two renames: the next batch's recovery sweep must restore it, so
  * the model never sees the crash — unless that batch's truncate
  * advances the fence, whose clear must take `__prev` too (it runs
  * before the sweep), or the sweep would restore a cleared bucket.
  */
class CfrModelSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private case class MRow(stateLsn: Long, state: Option[Map[String, String]],
                          tombstone: Boolean)

  test("property: random TOAST histories with replays == carry-forward + retention model") {
    import spark.implicits._
    val histories = 40
    val cols = Seq("a", "b")
    for (h <- 0 until histories) {
      val rnd = new scala.util.Random(0xCF12 + h)
      val nb = 2 + rnd.nextInt(3)
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_cfrmodel_$h").toString + "/state"
      val keys = (0 until 2 + rnd.nextInt(4)).map(i => s"k$i")

      val nEvents = 8 + rnd.nextInt(10)
      val lsns = rnd.shuffle((1L to 80L).toList).take(nEvents).sorted
      val events = lsns.map { lsn =>
        val key = keys(rnd.nextInt(keys.length))
        rnd.nextInt(11) match {
          case 0 =>
            // table-level: the carrier key is arbitrary
            CfrOp(key, "truncate", lsn, Map.empty, null)
          case 1 | 2 =>
            CfrOp(key, "delete", lsn, Map.empty, null)
          case 3 | 4 | 5 =>
            CfrOp(key, "insert", lsn,
              cols.map(c => c -> s"$c$lsn").toMap, null)
          case _ =>
            // update with a random subset of TOAST-marked columns
            val marked = cols.filter(_ => rnd.nextInt(3) == 0)
            CfrOp(key, "update", lsn,
              cols.map(c => c ->
                (if (marked.contains(c)) null else s"$c$lsn")).toMap,
              marked.toArray)
        }
      }
      val cuts = (Seq(0, events.length) ++
        Seq.fill(rnd.nextInt(3))(rnd.nextInt(events.length + 1))).distinct.sorted
      val batches = cuts.zip(cuts.tail).map { case (a, b) => events.slice(a, b) }
        .filter(_.nonEmpty)

      // bucket assignment exactly as the sink computes it
      val buckets: Map[String, Int] = keys.toDF("key")
        .withColumn("b", ChangeLogStream.bucketOf(Seq("key"), nb))
        .as[(String, Int)].collect().toMap

      // ---- the model ----
      var fence = -1L
      var head = -1L
      var store = Map.empty[String, MRow]
      def modelApply(all: Seq[CfrOp]): Unit = {
        val newFence = all.filter(_.op == "truncate").map(_.lsn).foldLeft(-1L)(math.max)
        if (newFence > fence) { store = Map.empty; fence = newFence }
        head = math.max(head, all.map(_.lsn).max)
        val batch = all.filter(o => o.op != "truncate" && o.lsn > fence)
        val touched = batch.map(o => buckets(o.key)).toSet
        val (inTouched, untouched) =
          store.partition { case (k, _) => touched(buckets(k)) }
        // prior rows as synthetic events
        case class Ev(lsn: Long, op: String, cells: Map[String, String])
        val prior: Seq[(String, Ev)] = inTouched.toSeq.map {
          case (k, MRow(sl, st, false)) =>
            k -> Ev(sl, "snapshot", st.getOrElse(Map.empty))
          case (k, MRow(sl, _, true)) => k -> Ev(sl, "delete", Map.empty)
        }
        val fromBatch: Seq[(String, Ev)] = batch.map { o =>
          val marked = Option(o.unchangedCols).map(_.toSet).getOrElse(Set.empty)
          val cells =
            if (o.op == "delete") Map.empty[String, String]
            else o.after.filter { case (c, _) => !marked.contains(c) }
          o.key -> Ev(o.lsn, if (o.op == "delete") "delete" else o.op, cells)
        }
        val merged = (prior ++ fromBatch).groupBy(_._1).flatMap {
          case (k, evs0) =>
            val evs = evs0.map(_._2)
            val delLsn = evs.filter(_.op == "delete").map(_.lsn)
              .foldLeft(-1L)(math.max)
            val live = evs.filter(e => e.op != "delete" && e.lsn > delLsn)
            if (live.nonEmpty) {
              val stateLsn = live.map(_.lsn).max
              val winners = live.flatMap(e => e.cells.map { case (c, v) =>
                (c, e.lsn, v) })
                .groupBy(_._1)
                .map { case (c, cands) => c -> cands.maxBy(_._2)._3 }
              Some(k -> MRow(stateLsn,
                if (winners.isEmpty) None else Some(winners), false))
            } else if (delLsn >= 0 && delLsn > head - (head >> 2)) {
              Some(k -> MRow(delLsn, None, true))
            } else None
        }
        store = untouched ++ merged
      }

      // ---- drive the sink ----
      val sink = ChangeLogStream.carryForwardRetentionUpsertBatch(dir, nb) _
      var batchId = 0L
      for ((batch, i) <- batches.zipWithIndex) {
        val df = batch.toDF()
        sink(df, batchId); batchId += 1
        modelApply(batch)
        if (rnd.nextInt(3) == 0) { // replay: must be a no-op
          sink(df, batchId); batchId += 1
        }
        // crash injection (only when another batch will run recovery):
        // a random live bucket moved aside, its staged copy "lost"
        if (i < batches.length - 1 && rnd.nextInt(3) == 0) {
          val root = new java.io.File(dir)
          val live = Option(root.list()).getOrElse(Array.empty)
            .filter(_.startsWith("__bucket=")).sorted
          if (live.nonEmpty) {
            val victim = live(rnd.nextInt(live.length))
            val backup = new java.io.File(dir + "__prev")
            assert(backup.mkdirs())
            assert(new java.io.File(root, victim)
              .renameTo(new java.io.File(backup, victim)),
              s"h=$h: crash injection rename failed for $victim")
          }
        }
      }

      // ---- converge ----
      val hasBuckets = Option(new java.io.File(dir).list())
        .getOrElse(Array.empty[String]).exists(_.startsWith("__bucket="))
      val got: Map[String, MRow] =
        if (!hasBuckets) Map.empty
        else spark.read.parquet(dir)
          .select($"key", $"state_lsn", $"state", $"tombstone")
          .as[(String, Long, Map[String, String], Boolean)].collect()
          .map { case (k, sl, st, tb) => k -> MRow(sl, Option(st), tb) }
          .toMap
      assert(got === store,
        s"h=$h nb=$nb fence=$fence head=$head buckets=$buckets\n" +
          s"  batches=${batches.map(_.mkString("[", " ", "]")).mkString(" | ")}")
    }
  }
}
