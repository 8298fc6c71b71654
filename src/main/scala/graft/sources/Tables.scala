package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loaders for the driver corpus (TESTDATA.md).
  *
  * Plays the role of the reference's sources: the snapshot full-table scan
  * (reference `internal/wal/replicator.go:69-184`) becomes a partitioned
  * columnar parquet scan — Catalyst pushes predicates and prunes columns
  * into the scan, so downstream operators declare what they need and the
  * scan reads only that. At 100 TB each table is a directory of many
  * row-group-sized files; `spark.read.parquet` parallelizes by file split
  * automatically, nothing here assumes single-node materialization
  * (unlike the reference's `ReadAll`, replicator.go:103).
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Spread an under-parallel relation across cores, GATED on measured
    * input parallelism (r17 verdict what's-wrong #2; guide §2.5): the
    * test corpora arrive as one parquet file = one split, so per-row
    * hash/HOF pipelines would run on one core without the exchange —
    * but at 100 TB the same scan already yields thousands of splits and
    * an unconditional repartition would be a pure full-table shuffle.
    * The exchange now exists only when the scan is under-parallel
    * (asserted both ways in plans/r18: present at the default split
    * size, gone with spark.sql.files.maxPartitionBytes lowered).
    */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // explicit count: AQE would coalesce a small keyed shuffle back to
    // one partition, defeating the parallelism this exists to create
    if (df.rdd.getNumPartitions < par) df.repartition(par, key) else df
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` has shipped as BOTH parquet TIMESTAMP(NANOS) (early
    * corpus generations — Spark's vectorized reader rejects it outright)
    * and TIMESTAMP(MICROS) (current generations — reads natively). Handle
    * either: read under the legacy nanos-as-long conf (a no-op for µs
    * files), then normalize on the INFERRED type — a long column is nanos
    * and gets the same ns→µs truncation DuckDB applies; a timestamp
    * column is already µs and passes through. Dispatching on the inferred
    * schema (not the sfDir) keeps every events consumer agnostic to which
    * corpus generation it is reading.
    *
    * The legacy conf is needed only during eager schema inference, so it
    * is saved and restored around the read (verified empirically: the
    * execution path keeps producing correct values after the restore) —
    * reading events must not silently change how OTHER nanos parquet is
    * read for the rest of the session. No per-read parquet option exists
    * for this (probed: both spellings fail schema inference).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "true")
    val raw = try table(s, d, "events")
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
    val norm = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ =>
        // µs files infer as TIMESTAMP_NTZ; cast to TIMESTAMP so consumers
        // see the SAME type the nanos path (timestamp_micros) produces —
        // unix_micros() and friends reject NTZ. Verify pins the session
        // to UTC, so the NTZ→LTZ cast is value-preserving vs the naive
        // timestamps the DuckDB oracle reads.
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
    norm.select("event_id", "ts", "user_id", "event_type", "value", "props")
  }
  /** Family-window shared events relation (r18): the normalized events
    * scan, shared through CachePool.shared and CachePool-persisted. The
    * events/cdc/window/profile/asof families each re-read this table
    * 3–45 times per session window; one materialization now serves every
    * consumer in the window (guide §1.2 — reuse beats rescans), and
    * nothing crosses a release boundary. All six columns persist —
    * `props` averages ~9 bytes here and its consumers (the cdc envelope
    * family) share the same window as heavy non-props readers, so a
    * second props-free variant would only double the materialized
    * footprint.
    */
  def eventsShared(s: SparkSession, d: String): DataFrame =
    graft.CachePool.shared(s, d, "events")(graft.CachePool.persist(events(s, d)))

  /** Family-window shared fact tables (r18): the TPC-H tier re-reads
    * lineitem/orders/customer 5–25 times per family window (q: 22
    * queries, agg: 20+, join: 10+). Same contract as [[eventsShared]]:
    * shared per table, CachePool-persisted, built lazily inside the
    * first consumer's timed region, released at every family boundary.
    * The corpus tables carry no unused columns (the generator already
    * projects them), so the persist is the union projection by
    * construction. The [[spread]] gate inside fixes the
    * local one-split scan (the whole scan+partial-agg stage of every
    * consumer otherwise runs on ONE core); at real scale the gate is a
    * no-op and the persist trades one materialization for N−1 rescans.
    */
  private def factShared(s: SparkSession, d: String, name: String,
      key: String): DataFrame =
    graft.CachePool.shared(s, d, name)(
      graft.CachePool.persist(spread(table(s, d, name), col(key))))

  def lineitemShared(s: SparkSession, d: String): DataFrame =
    factShared(s, d, "lineitem", "l_orderkey")
  def ordersShared(s: SparkSession, d: String): DataFrame =
    factShared(s, d, "orders", "o_orderkey")
  def customerShared(s: SparkSession, d: String): DataFrame =
    factShared(s, d, "customer", "c_custkey")

  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Name-keyed lookup through the TYPED loaders (events needs its nanos
    * handling even when resolved dynamically); unknown names fail fast
    * with the catalog listed.
    */
  def byName(s: SparkSession, d: String, name: String): DataFrame = name match {
    case "region" => region(s, d)
    case "nation" => nation(s, d)
    case "customer" => customer(s, d)
    case "supplier" => supplier(s, d)
    case "part" => part(s, d)
    case "orders" => orders(s, d)
    case "lineitem" => lineitem(s, d)
    case "events" | "users" => events(s, d) // "users" = the CDC table's role name
    case "documents" => documents(s, d)
    case "embeddings" => embeddings(s, d)
    case other => throw new IllegalArgumentException(
      s"unknown table $other; available: region nation customer supplier " +
        "part orders lineitem events users documents embeddings")
  }
}
