package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.GraftExtensions
import graft.sources.Tables

/** User-facing entry point: everything a reference user needs to switch.
  *
  * `GraftSession.attach(spark, sfDir)` registers the corpus tables as
  * temp views and installs graft's session set-up (native functions,
  * top-k strategy, rank-limit rewrite), after which both the raw
  * SQL surface (`spark.sql("SELECT cosine_sim(...) FROM embeddings")`)
  * and the named query library (`SparkEntry.queries`) are available on
  * the caller's own session — graft never owns the SparkSession, so it
  * composes with whatever builder/extensions the deployment uses.
  */
object GraftSession {

  val tableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Register views on an existing session and install graft's set-up
    * there ([[GraftExtensions.install]]). Idempotent.
    * `events` goes through its dedicated loader (TIMESTAMP(NANOS)
    * normalization) — the raw reader rejects that parquet type.
    * Pass `only` to register a subset — each registration eagerly reads
    * parquet footers, so per-query callers should name their tables.
    */
  def attach(spark: SparkSession, sfDir: String,
      only: Seq[String] = tableNames): SparkSession = {
    GraftExtensions.install(spark)
    only.foreach { t =>
      val df = if (t == "events") Tables.events(spark, sfDir)
               else Tables.table(spark, sfDir, t)
      df.createOrReplaceTempView(t)
    }
    spark
  }

  /** Every named library query, sorted — the discoverable surface a
    * reference user switches onto.
    */
  def catalog: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** Run a named library query; unknown names fail with the catalog. */
  def query(spark: SparkSession, sfDir: String, name: String): DataFrame =
    SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown query '$name'; available: ${catalog.mkString(", ")}")
    )(spark, sfDir)

  /** Release library-internal caches: unpersist the shared persisted
    * intermediates (dedup postings, family-window table scans etc.) and
    * drop every value memoized through [[CachePool.shared]], so the next
    * query rebuilds from the data. Call when a batch of queries is done;
    * safe to call repeatedly.
    */
  def release(): Unit = CachePool.releaseAll()
}
