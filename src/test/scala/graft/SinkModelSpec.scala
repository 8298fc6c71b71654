package graft

import org.scalatest.funsuite.AnyFunSuite

/** Model-based property test of the bucketed upsert sink — the repo's
  * most load-bearing hand-written component
  * (streaming/ChangeLogStream.scala: upsertBatch and the rename-aside
  * crash protocol). SinkSpec's scenario tests check the cases we
  * thought of; this spec checks the CONTRACT: random op histories
  * (insert/update/delete, random keys and unique LSNs, random batch
  * splits, random batch replays, random mid-swap crash injections) must
  * always converge to the same state as an in-memory reference model:
  *
  *   store  = per key, the max-LSN row (deletes are retained as
  *            tombstone rows — the plain sink never GCs; that is
  *            retentionUpsertBatch's separately-tested policy)
  *
  * The TRUNCATE fence is not this sink's: it lives in the production
  * merge, and CfrModelSpec holds it, with the same crash injection,
  * under property test.
  *
  * The crash injection reproduces exactly the window the protocol
  * defends: a live bucket moved aside to `__prev` with the staged copy
  * never published (SinkSpec's "caught between the two renames"). The
  * next batch's recovery sweep must restore it before merging, so the
  * model never sees the crash at all.
  */
// top-level so Spark can derive an Encoder (inner classes capture the
// suite's scope and the codegen encoder refuses them)
case class SinkModelOp(key: Long, lsn: Long, op: String, v: String)

class SinkModelSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private type Op = SinkModelOp
  private def Op(key: Long, lsn: Long, op: String, v: String): Op =
    SinkModelOp(key, lsn, op, v)

  test("property: random histories with replays and crashes == last-writer-wins model") {
    import spark.implicits._
    val histories = 100
    for (h <- 0 until histories) {
      val rnd = new scala.util.Random(0x51DE + h)
      val nb = 2 + rnd.nextInt(3) // 2..4 buckets
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_sinkmodel_$h").toString + "/state"
      val sink = streaming.ChangeLogStream.upsertBatch(dir, Seq("key"), "lsn", nb) _

      // one global event sequence with UNIQUE LSNs, mostly ordered but
      // with occasional stragglers (CDC replays deliver old LSNs)
      val nEvents = 8 + rnd.nextInt(10)
      val lsns = rnd.shuffle((1L to 60L).toList).take(nEvents)
        .sorted.toArray
      // a few batches deliver an out-of-order tail: swap two positions
      if (rnd.nextBoolean()) {
        val i = rnd.nextInt(nEvents - 1)
        val t = lsns(i); lsns(i) = lsns(i + 1); lsns(i + 1) = t
      }
      val events = lsns.map { lsn =>
        val op = rnd.nextInt(9) match {
          case 0 | 1 => "delete"
          case 2 | 3 | 4 => "insert"
          case _ => "update"
        }
        Op(1L + rnd.nextInt(6), lsn, op, s"v$lsn")
      }
      // random batch split: 1..4 batches, contiguous slices
      val cuts = (Seq(0, events.length) ++
        Seq.fill(rnd.nextInt(3))(rnd.nextInt(events.length + 1))).distinct.sorted
      val batches = cuts.zip(cuts.tail).map { case (a, b) => events.slice(a, b) }
        .filter(_.nonEmpty)

      // ---- the model ----
      var store = Map.empty[Long, Op]
      def modelApply(batch: Seq[Op]): Unit =
        for (o <- batch) {
          if (!store.get(o.key).exists(_.lsn >= o.lsn)) store += o.key -> o
        }

      // ---- drive the sink ----
      var batchId = 0L
      for ((batch, i) <- batches.zipWithIndex) {
        val df = batch.toSeq.toDF()
        sink(df, batchId); batchId += 1
        modelApply(batch)
        if (rnd.nextInt(3) == 0) { // replay the SAME batch: idempotent
          sink(df, batchId); batchId += 1
          modelApply(batch) // no-op on the model by construction
        }
        // crash injection (only when another batch will run recovery):
        // move a random live bucket into the aside dir, staged copy
        // "lost" — the exact between-renames window
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
      val got = streaming.ChangeLogStream.readState(spark, dir)
        .select($"key", $"lsn", $"op", $"v").as[Op].collect()
        .map(o => o.key -> o).toMap
      assert(got === store,
        s"h=$h nb=$nb: sink drifted from model\n" +
          s"  batches=${batches.map(_.mkString("[", " ", "]")).mkString(" | ")}")
    }
  }
}
