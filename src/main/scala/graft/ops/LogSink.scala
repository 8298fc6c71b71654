package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** K3 analog — the durable structured log the reference tees every
  * Info+ line into (`logger.go:56-73`: a custom zap WriteSyncer doing
  * `INSERT INTO logs(entry)` per line, console + SQLite via the tee at
  * `logger.go:42-53`).
  *
  * Spark-side: a parquet log table. Each [[append]] writes NEW files
  * only (mode=append never rewrites existing ones), so a crash
  * mid-append can at worst lose the in-flight batch — committed records
  * are immutable, the same durability row-wise INSERTs gave the
  * reference. Streaming topologies write through [[writeBatch]]
  * instead: one directory per batch, overwritten on replay. Unlike the
  * reference's single free-text `entry` column, records are STRUCTURED
  * (level/component/message + the replication positions the reference
  * interpolates into strings), so the log is queryable without regex
  * archaeology.
  */
object LogSink {

  /** One log record. `firstLsn`/`lastLsn` carry replication progress on
    * pipeline-progress records (-1 elsewhere), mirroring the LSN the
    * reference logs on every checkpoint cycle.
    */
  case class LogRecord(ts: Timestamp, level: String, component: String,
      message: String, batchId: Long, nRows: Long, firstLsn: Long, lastLsn: Long)

  def append(spark: SparkSession, dir: String, records: Seq[LogRecord]): Unit =
    write(spark, dir, "append", records)

  /** One batch's records as a per-batch OVERWRITE of `dir/batch_id=<id>`
    * (the dead-letter ledger's protocol): a replayed batch rewrites its
    * records instead of appending a second copy.
    */
  def writeBatch(spark: SparkSession, dir: String, batchId: Long,
      records: Seq[LogRecord]): Unit =
    write(spark, s"$dir/batch_id=$batchId", "overwrite", records)

  private def write(spark: SparkSession, path: String, mode: String,
      records: Seq[LogRecord]): Unit = {
    import spark.implicits._
    if (records.nonEmpty)
      spark.createDataset(records)
        // a log write is a handful of rows — one file, not one per core
        .coalesce(1)
        .write.mode(mode).parquet(path)
  }

  /** Every record under `dir`: [[append]]'s flat files and
    * [[writeBatch]]'s `batch_id=` directories alike (recursive lookup,
    * no partition discovery — a record carries its own `batchId`), so
    * a log started by appends can continue per batch.
    */
  def read(spark: SparkSession, dir: String): Dataset[LogRecord] = {
    import spark.implicits._
    spark.read.option("recursiveFileLookup", "true").parquet(dir).as[LogRecord]
  }

  /** The progress aggregate over `lsnCol`: row count, min and max LSN.
    * Min/max are cast to long IN the aggregation: the version column is
    * any orderable numeric/timestamp type (upsertBatch accepts them
    * all), and a raw getLong on an int or timestamp min would throw
    * AFTER the upsert already committed.
    */
  def progressAggs(lsnCol: String): Seq[Column] =
    Seq(count(lit(1)), min(col(lsnCol)).cast("long"), max(col(lsnCol)).cast("long"))

  /** The progress record from [[progressAggs]]' three values, found in
    * `row` from field `at` on.
    */
  def progressFrom(row: Row, at: Int, batchId: Long, component: String): LogRecord = {
    val n = row.getLong(at)
    // rows may exist with an all-null lsn column (min/max NULL even
    // though n > 0) — the -1 fence must cover that, not NPE
    def lsn(i: Int): Long =
      if (n == 0 || row.isNullAt(at + i)) -1L else row.getLong(at + i)
    LogRecord(new Timestamp(System.currentTimeMillis()), "INFO", component,
      s"batch $batchId: $n rows", batchId, n, lsn(1), lsn(2))
  }

  /** Progress record for one micro-batch of the upsert sink — what the
    * reference's replicator logs per WAL message + checkpoint cycle.
    * One [[progressAggs]] aggregation over the batch; callers compute it
    * before the sink commit and write it after (see
    * ChangeLogStream.loggedUpsertBatch).
    */
  def progressRecord(batch: DataFrame, batchId: Long, lsnCol: String,
      component: String): LogRecord = {
    val aggs = progressAggs(lsnCol)
    progressFrom(batch.agg(aggs.head, aggs.tail: _*).head(), 0, batchId, component)
  }
}
