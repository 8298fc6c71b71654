package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.LogSink
import graft.streaming.ChangeLogStream

class LogSinkSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("append-only: committed records survive later appends unchanged") {
    val dir = tmp("graft_log1") + "/logs"
    val r1 = LogSink.LogRecord(new Timestamp(1000L), "INFO", "c", "m1", 0L, 5L, 1L, 5L)
    val r2 = LogSink.LogRecord(new Timestamp(2000L), "WARN", "c", "m2", 1L, 0L, -1L, -1L)
    LogSink.append(spark, dir, Seq(r1))
    LogSink.append(spark, dir, Seq(r2))
    LogSink.append(spark, dir, Nil) // empty append is a no-op, not a crash
    val got = LogSink.read(spark, dir).collect().sortBy(_.batchId)
    assert(got.toSeq === Seq(r1, r2))
  }

  test("writeBatch overwrites per batch; read sees appends and batch dirs together") {
    val dir = tmp("graft_log_batch") + "/logs"
    def rec(b: Long, n: Long) =
      LogSink.LogRecord(new Timestamp(1000L * b), "INFO", "t", s"m$b", b, n, 1L, n)
    LogSink.append(spark, dir, Seq(rec(0L, 3L))) // a log begun by appends
    LogSink.writeBatch(spark, dir, 1L, Seq(rec(1L, 4L)))
    LogSink.writeBatch(spark, dir, 2L, Seq(rec(2L, 5L)))
    LogSink.writeBatch(spark, dir, 1L, Seq(rec(1L, 4L))) // replay of batch 1
    val got = LogSink.read(spark, dir).collect().sortBy(_.batchId)
    assert(got.toSeq === Seq(rec(0L, 3L), rec(1L, 4L), rec(2L, 5L)))
  }

  test("progressRecord reports rows and LSN range; empty batch → -1 fences") {
    val batch = Seq((3L, "a"), (9L, "b"), (5L, "c")).toDF("lsn", "v")
    val rec = LogSink.progressRecord(batch, 7L, "lsn", "t")
    assert(rec.batchId === 7L && rec.nRows === 3L)
    assert(rec.firstLsn === 3L && rec.lastLsn === 9L)
    val empty = LogSink.progressRecord(batch.filter(col("lsn") < 0), 8L, "lsn", "t")
    assert(empty.nRows === 0L && empty.firstLsn === -1L && empty.lastLsn === -1L)
  }

  test("progressRecord accepts non-Long version columns (int, timestamp)") {
    // upsertBatch accepts any orderable version column; the log tee must
    // not throw AFTER a successful commit just because it isn't a BIGINT
    val intBatch = Seq((3, "a"), (9, "b")).toDF("lsn", "v")
    val ri = LogSink.progressRecord(intBatch, 1L, "lsn", "t")
    assert(ri.firstLsn === 3L && ri.lastLsn === 9L)
    val tsBatch = Seq((new Timestamp(4000L), "a"), (new Timestamp(9000L), "b"))
      .toDF("lsn", "v")
    val rt = LogSink.progressRecord(tsBatch, 2L, "lsn", "t")
    // timestamp→long is epoch seconds in Spark's cast semantics
    assert(rt.firstLsn === 4L && rt.lastLsn === 9L)
  }

  test("loggedUpsertBatch tees one progress record per committed batch") {
    val base = tmp("graft_log2")
    val table = s"$base/state"
    val logs = s"$base/logs"
    val sink = ChangeLogStream.loggedUpsertBatch(table, logs, Seq("key"), "lsn") _
    sink(Seq((1L, "k1", "v1"), (2L, "k2", "v2")).toDF("lsn", "key", "v"), 0L)
    sink(Seq((3L, "k1", "v9")).toDF("lsn", "key", "v"), 1L)
    // state table holds latest per key...
    val state = spark.read.parquet(table).orderBy("key")
      .select("key", "v").as[(String, String)].collect().toSeq
    assert(state === Seq(("k1", "v9"), ("k2", "v2")))
    // ...and the log holds the full progress history
    val log = LogSink.read(spark, logs).collect().sortBy(_.batchId)
    assert(log.map(r => (r.batchId, r.nRows, r.firstLsn, r.lastLsn)).toSeq ===
      Seq((0L, 2L, 1L, 2L), (1L, 1L, 3L, 3L)))
    assert(log.forall(_.component == "upsert-sink"))
  }
}
