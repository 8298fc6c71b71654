package graft

import org.scalatest.funsuite.AnyFunSuite

/** Positive plan assertions — not just "no cartesian" (PlanAuditSpec)
  * but "the plan you'd WANT at 100 TB": filters reach the parquet scan,
  * projections prune columns, dimension joins broadcast, aggregations
  * hash (not sort), and global top-k fuses into TakeOrdered.
  *
  * `plan(name)` and the two whole-catalog sweeps read the plans that
  * CatalogSweep records on its walk of the catalog (SparkEntry.walk);
  * a test that needs a live plan object builds its own query.
  */
class PlanQualitySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String = CatalogSweep.catalog.plan(name)

  /** The plan text with every InMemoryRelation's cached-build subtree
    * removed. The r18 family-window shared relations (Tables.*Shared,
    * TextAnalysis.docsPar) embed their ONE-TIME build (scan + gated
    * spread exchange — printed twice once its inner AQE plan is final)
    * inside the cached leaf; per-query shape assertions must count only
    * the query's own operators, or the amortized build would be charged
    * to every consumer.
    */
  private def outerOnly(p: String): String = {
    // depth = column of the first payload char (tree prefixes are
    // spaces, ':', '|', '+', '-'); InMemoryTableScan is a LEAF of the
    // outer plan, so anything printed deeper after it is the cached
    // build (including its AQE query-stage / "== Initial Plan ==" dump)
    def depth(l: String): Int = {
      val i = l.indexWhere(c => !" :|+-".contains(c))
      if (i < 0) Int.MaxValue else i
    }
    val out = Seq.newBuilder[String]
    var cut = -1
    for (l <- p.linesIterator) {
      val d = depth(l)
      if (cut >= 0 && d > cut) () // inside a cached-build subtree
      else {
        cut = if (l.contains("InMemoryTableScan")) d else -1
        out += l
      }
    }
    out.result().mkString("\n")
  }

  /** Output-column list of the first cached-relation scan mentioning
    * `col` — the r18 equivalent of the old per-query ReadSchema
    * assertion: column pruning now happens at the InMemoryTableScan
    * (the cache stores the full already-minimal table once per window;
    * each consumer reads only its columns from it).
    */
  private def cacheScanCols(p: String, col: String): String = {
    val line = p.linesIterator
      .find(l => l.contains("InMemoryTableScan") && l.contains(col))
      .getOrElse("")
    val from = line.indexOf('[')
    val to = line.indexOf(']')
    if (from >= 0 && to > from) line.substring(from + 1, to) else ""
  }

  /** Full first InMemoryTableScan line mentioning `col` (output list +
    * pushed cache predicates). */
  private def cacheScanLine(p: String, col: String): String =
    p.linesIterator
      .find(l => l.contains("InMemoryTableScan") && l.contains(col))
      .getOrElse("")

  test("q1: shipdate predicate is pushed to the cached-relation scan") {
    // r18: q-family queries read the family-window shared lineitem
    // persist; the shipdate bound must reach the InMemoryTableScan
    // (batch-stat pruning) exactly as it used to reach the parquet scan.
    val p = plan("q1_pricing_summary")
    val l = cacheScanLine(p, "l_shipdate")
    assert(l.contains("isnotnull(l_shipdate") && l.contains("l_shipdate") &&
      l.contains("<="), s"shipdate predicate must reach the cache scan:\n$p")
  }

  test("q1: scan reads only the columns the query needs") {
    val p = plan("q1_pricing_summary")
    val cols = cacheScanCols(p, "l_shipdate")
    // 7 needed columns; the unused lineitem columns must be pruned from
    // the cache read
    assert(Seq("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
      "l_discount", "l_tax", "l_shipdate").forall(cols.contains), cols)
    assert(!cols.contains("l_partkey") && !cols.contains("l_suppkey") &&
      !cols.contains("l_orderkey"), cols)
  }

  test("dimension joins broadcast; no sort-merge of the fact table") {
    val p = plan("join_broadcast_dims")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("grouped aggregation hashes (partial + final), never sorts") {
    val p = plan("agg_having")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("global top-k fuses into TakeOrderedAndProject (no full sort)") {
    val p = plan("topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("no query falls back to SortAggregate (whitelist: built-in max_by demo)") {
    // immutable aggregation buffers (structs/strings/arrays in max_by,
    // collect_*, first over payload columns) silently turn hash
    // aggregation into whole-partition sorts; every such fallback here
    // was rewritten onto the top-k operator. agg_argmax intentionally
    // demonstrates the BUILT-IN max_by (string buffer → SortAggregate);
    // collect_list in agg_string_concat is inherently object-based.
    val allow = Set("agg_argmax", "agg_string_concat")
    val offenders = CatalogSweep.catalog.sortAggregates
      .filterNot(allow)
      .filterNot(n => n == "dedup_clusters") // driver-side loop at construction
    assert(offenders.isEmpty, s"SortAggregate fallback in: $offenders")
  }

  test("carry-forward law: one key shuffle serves the fence window, the cell top-k and the state aggregate") {
    // the whole law is one keyed pass: FinalTopKExec's (key, c)
    // clustering and the per-key aggregate are satisfied by the window's
    // hash(key), so a second exchange — or a broadcast of a re-derived
    // fence — means the law is being computed twice
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import graft.pipeline.{ChangeLog, Envelope}
    val env = Envelope.toCdcEventsToast(graft.sources.Tables.events(spark, sfDir)).toDF()
    val helper = new AdaptiveSparkPlanHelper {}
    for ((name, df) <- Seq(
        "latestStateCarryForward" -> ChangeLog.latestStateCarryForward(env),
        "cellProvenance" -> ChangeLog.cellProvenance(env, Seq("value", "k")))) {
      assert(df.collect().nonEmpty) // executes df's own (adaptive) plan
      val p = df.queryExecution.executedPlan
      val shuffles = helper.collect(p) { case e: ShuffleExchangeExec => e.outputPartitioning }
      val onKey = shuffles.collect {
        case HashPartitioning(Seq(a: Attribute), _) if a.name == "key" => a
      }
      assert(shuffles.size === 1 && onKey.size === 1,
        s"$name: expected exactly one shuffle, on key:\n$p")
      assert(helper.collect(p) { case b: BroadcastExchangeExec => b }.isEmpty,
        s"$name: no broadcast:\n$p")
    }
  }

  test("production merge: one shuffle, on (table, bucket), serves every table of a batch") {
    // the micro-batch merges all its tables at once: one repartition on
    // (table, bucket) meets the law's window, cell top-k and aggregate
    // clustering and the partitioned staging write. A second exchange
    // means a step re-shuffles, one per table means the merge forked
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.{col, concat, lit, pmod, struct, to_json}
    import org.apache.spark.sql.util.QueryExecutionListener
    val env = graft.pipeline.Envelope.toCdcEventsToast(
        graft.sources.Tables.events(spark, sfDir)).toDF()
      .withColumn("tableName", concat(lit("t"), pmod(col("lsn"), lit(3L))))
    def wire(from: Long, to: Long) = env.filter(col("lsn") >= from && col("lsn") < to)
      .select(col("key").cast("binary").as("key"),
        to_json(struct(env.columns.map(col): _*)).cast("binary").as("value"))
    val half = env.agg(org.apache.spark.sql.functions.max("lsn")).head().getLong(0) / 2
    val base = java.nio.file.Files.createTempDirectory("graft_planmerge").toString
    val sink = graft.streaming.ChangeLogStream.fullProductionBatch(base, Long.MaxValue / 4) _
    sink(wire(0L, half), 0L) // cold: the warm batch merges prior rows too
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = qe.logical match {
        case c: InsertIntoHadoopFsRelationCommand
            if c.outputPath.getName.startsWith("state__staging_") => writes.add(qe)
        case _ =>
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      sink(wire(half, Long.MaxValue), 1L)
      var tries = 0
      while (writes.isEmpty && tries < 100) { Thread.sleep(100); tries += 1 }
    } finally spark.listenerManager.unregister(listener)
    assert(writes.size === 1, "one staged merge write per batch")
    val p = writes.peek().executedPlan
    val shuffles = new AdaptiveSparkPlanHelper {}.collect(p) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }
    val onTableBucket = shuffles.collect {
      case HashPartitioning(Seq(t: Attribute, b: Attribute), _)
          if t.name == "__table" && b.name == "__bucket" => t
    }
    assert(shuffles.size === 1 && onTableBucket.size === 1,
      s"expected exactly one shuffle, on (__table, __bucket):\n$p")
  }

  test("unique-id replay dedup never sorts (DistinctByKey fast path)") {
    // dedup on a globally-unique id with k=1 takes the hash final pass:
    // the old FinalTopKExec form forced a full (key)-sort of every
    // surviving row even though any row per id may win
    val p = plan("cdc_replay_dedup")
    assert(p.contains("DistinctByKey"), p)
    assert(!p.contains("Sort"), s"cdc_replay_dedup must be sort-free:\n$p")
  }

  test("interarrival shuffles ONCE: user partitioning serves lag window AND per-user agg") {
    val p = plan("events_interarrival")
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      s"expected exactly one shuffle:\n$p")
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("gap islands shuffle twice, never more: distinct keys then user partitioning reused by the island agg") {
    // (user, day) distinct → window by user; the (user, grp) aggregation's
    // clustering is satisfied by the window's user partitioning
    val p = plan("window_gap_islands")
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 2,
      s"expected exactly two shuffles:\n$p")
  }

  test("profile scans prune to exactly the profiled columns") {
    val hist = plan("profile_histogram")
    val cols = cacheScanCols(hist, "o_totalprice")
    assert(cols.contains("o_totalprice") && !cols.contains("o_orderkey") &&
      !cols.contains("o_orderdate"), cols)
    val bg = plan("text_bigram_commonness")
    val cols2 = cacheScanCols(bg, "text")
    assert(cols2.contains("doc_id") && cols2.contains("text") &&
      !cols2.contains("lang") && !cols2.contains("source"), cols2)
  }

  test("sequence packing shuffles ONCE: shard partitioning serves window AND agg") {
    // the per-shard prefix-sum window hashes on shard; the (shard, bin)
    // aggregation's required clustering is satisfied by that same
    // partitioning (shard ⊆ grouping keys), so no second exchange
    // (outerOnly: the shared docsPar build's amortized exchange is the
    // family window's, not this query's)
    val p = outerOnly(plan("text_pack_sequences"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1, s"expected exactly one shuffle:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"global prefix sum would coalesce the corpus to one partition:\n$p")
  }

  test("top paths: per-user prefix planned as TopKPerKey heaps, not a full window sort") {
    // the rn ≤ PATH_LEN filter must take the two-phase TopKPerKey
    // rewrite (per-partition k-row heaps prune BEFORE the exchange);
    // a WindowExec here would sort every user's complete history
    val p = plan("events_top_paths")
    assert(p.contains("PartialTopK") && p.contains("FinalTopK"),
      s"prefix must plan as two-phase TopKPerKey:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"final top-20 must be a TakeOrdered, not a global sort:\n$p")
  }

  test("domain cap: kept set planned as TopKPerKey heaps, not a full window sort") {
    val p = plan("text_domain_cap")
    assert(p.contains("PartialTopK") && p.contains("FinalTopK"),
      s"cap must plan as two-phase TopKPerKey:\n$p")
  }

  test("bloom prune: probe side tests membership without shuffling toward the build") {
    // probe rows meet the filter through BROADCAST joins only (the m
    // scalar and the bit-set); the only hash exchanges are the two
    // distinct() key dedups and the per-key hit count — never a
    // probe×build shuffle join
    val p = plan("join_bloom_prune")
    assert(!p.contains("SortMergeJoin"),
      s"bloom pruning must not shuffle probe against build:\n$p")
  }

  test("kafka wire round trip keeps the pruned top-k latest-state shape") {
    // consuming from the (key, value) wire relation must not degrade the
    // latest-state plan: partial top-k prunes map-side before the
    // exchange. (A Window IS present — the envelope's lag-derived
    // before-image — but latest-state itself must not plan row_number.)
    val p = plan("cdc_kafka_wire")
    assert(p.contains("PartialTopK") && p.contains("FinalTopK"), p)
    assert(!p.contains("row_number"), p)
  }

  test("bucketed range join plans an equi hash join, not a nested loop") {
    val p = plan("join_range_bucketed")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin"), p) // broadcast- or shuffled-hash on __bucket
  }

  test("pushable LIKE predicates reach the parquet scan") {
    // NOTE: scalar_like's full predicate is an OR containing RLIKE —
    // regex can't push to parquet, and OR is all-or-nothing, so that
    // query correctly keeps its filter post-scan. A conjunctive LIKE
    // must push:
    import org.apache.spark.sql.functions.col
    val df = sources.Tables.part(spark, sfDir)
      .filter(col("p_name").like("%ring%") && col("p_type").like("PROMO%"))
      .select("p_partkey")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("StringContains") && p.contains("StringStartsWith"), p)
    assert(p.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)\\].*", "$1").nonEmpty, p)
  }

  test("whole-stage codegen covers the q1 aggregation pipeline") {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
    df.collect() // AQE only shows codegen spans in the FINAL plan
    val p = df.queryExecution.executedPlan.toString
    // codegen stages print as "*(n) Operator" in the plan tree; both
    // aggregate phases must be inside one
    assert(p.contains("*(2) HashAggregate") || p.contains("*(1) HashAggregate"), p)
  }

  test("pareto: no single-partition exchange ever carries the per-user relation") {
    // the r8 form ranked ALL users through one global row_number window;
    // the rewrite must confine every Exchange SinglePartition (the
    // cumulative histogram window + 1-row aggregates) to relations that
    // have already collapsed the user dimension away
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    // EnsureRequirements only inserts the exchanges into executedPlan,
    // and under AQE that is an untraversable AdaptiveSparkPlanExec leaf
    // — flip AQE off for the shape check
    val c = spark.conf
    val saved = c.get("spark.sql.adaptive.enabled")
    try {
      c.set("spark.sql.adaptive.enabled", "false")
      val ep = SparkEntry.queries("events_power_pareto")(spark, sfDir)
        .queryExecution.executedPlan
      val singles = ep.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
      }
      assert(singles.nonEmpty, "expected the bounded histogram/1-row exchanges")
      singles.foreach { e =>
        assert(!e.child.output.exists(_.name == "user_id"),
          s"single-partition exchange carries the O(users) relation:\n$e")
      }
    } finally c.set("spark.sql.adaptive.enabled", saved)
  }

  test("bitmap distinct: exactly two hash shuffles, both carrying word-compressed rows") {
    // (group, bucket) bit_or then (group) popcount-sum — the whole point
    // is that raw fact rows never shuffle; both exchanges move ≤ 1/64th
    // of the distinct keys per group
    val p = plan("agg_bitmap_distinct")
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 2,
      s"expected exactly two shuffles:\n$p")
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"), p)
  }

  test("out-of-order shuffles ONCE: user partitioning serves running-max window AND per-user agg") {
    val p = plan("events_out_of_order")
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      s"expected exactly one shuffle:\n$p")
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("moment statistics plan one hash-agg pass each, scans pruned to the aggregated columns") {
    for (name <- Seq("agg_skewness", "profile_histogram2d")) {
      val p = outerOnly(plan(name))
      assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
        s"$name: expected exactly one shuffle:\n$p")
      assert(!p.contains("SortAggregate"), s"$name:\n$p")
    }
    val cols = cacheScanCols(plan("agg_skewness"), "l_quantity")
    assert(cols.contains("l_quantity") && cols.contains("l_returnflag") &&
      !cols.contains("l_extendedprice") && !cols.contains("l_orderkey"), cols)
  }

  test("growth-accounting family: no single-partition exchange, windows all user-partitioned") {
    for (name <- Seq("events_lifecycle", "events_stickiness",
      "events_hour_of_day", "text_cross_source_dups", "agg_regr_slope")) {
      val p = plan(name)
      assert(!p.contains("Exchange SinglePartition"),
        s"$name funnels a relation through one task:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), s"$name:\n$p")
    }
  }

  test("tfidf cosine pairs: global top-20 is a TakeOrdered, no cartesian, no sort-merge of raw docs") {
    val p = plan("text_tfidf_cosine_pairs")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must not global-sort the pair relation:\n$p")
    // (the 1-row n_docs broadcast constant-folds to a one-row BNLJ —
    // the whitelisted scalar-subquery shape; a cartesian of REAL
    // relations would be a bug)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("source modularity: pure hash aggregation, no single-partition exchange of the group census") {
    val p = plan("text_source_modularity")
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"), p)
    // the only SinglePartition exchanges allowed are the 1-row m
    // aggregate and the broadcast — never the O(fingerprints) census
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    val c = spark.conf
    val saved = c.get("spark.sql.adaptive.enabled")
    try {
      c.set("spark.sql.adaptive.enabled", "false")
      val ep = SparkEntry.queries("text_source_modularity")(spark, sfDir)
        .queryExecution.executedPlan
      ep.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
      }.foreach { e =>
        assert(!e.child.output.exists(_.name == "fp"),
          s"single-partition exchange carries the fingerprint census:\n$e")
      }
    } finally c.set("spark.sql.adaptive.enabled", saved)
  }

  test("tombstone GC: per-key head planned as TopKPerKey heaps, not a full window sort") {
    val p = plan("cdc_tombstone_gc")
    assert(p.contains("PartialTopK") && p.contains("FinalTopK"),
      s"head selection must take the two-phase TopKPerKey rewrite:\n$p")
  }

  test("bitmap WAU: three hash shuffles, all carrying word-compressed rows, never a single partition") {
    // words agg, window-end re-merge, per-day popcount — and every
    // exchange moves (day, bucket, word) rows, never raw (user, day)s
    val p = plan("events_weekly_active_bitmap")
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 3,
      s"expected exactly three shuffles:\n$p")
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("centroid drift: hash aggregation end to end, no nested-loop join of the dim relations") {
    val p = plan("ann_centroid_drift")
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("search: keyword top-10 is a TakeOrdered and the scan reads only the searched columns") {
    val p = plan("search_keyword_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-10 must not sort the scored relation:\n$p")
    val rs = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(rs.contains("doc_id") && rs.contains("text") &&
      !rs.contains("source") && !rs.contains("lang"), rs)
    val rs2 = plan("search_phrase_match").linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(rs2.contains("source") && rs2.contains("text") &&
      !rs2.contains("doc_id") && !rs2.contains("n_chars"), rs2)
  }

  test("growth scans prune to exactly the aggregated columns") {
    val cols = cacheScanCols(plan("events_stickiness"), "user_id")
    assert(cols.contains("user_id") && cols.contains("ts") &&
      !cols.contains("value") && !cols.contains("props") &&
      !cols.contains("event_type"), cols)
    val cols2 = cacheScanCols(plan("events_cohort_ltv"), "value")
    assert(cols2.contains("value") && !cols2.contains("props") &&
      !cols2.contains("event_type"), cols2)
    val cols3 = cacheScanCols(plan("agg_winsorized_mean"), "o_totalprice")
    assert(cols3.contains("o_totalprice") && cols3.contains("o_orderpriority") &&
      !cols3.contains("o_orderdate") && !cols3.contains("o_custkey"), cols3)
  }

  test("r10 screens prune their scans: vocab coverage and similarity spectrum") {
    // text_vocab_coverage explodes tokens per source — the cache read
    // must carry ONLY (source, text)
    val cols = cacheScanCols(plan("text_vocab_coverage"), "text")
    assert(cols.contains("source") && cols.contains("text") &&
      !cols.contains("doc_id") && !cols.contains("lang"), cols)
    // ann_similarity_histogram reads vectors only — the label column
    // must never leave the parquet footer
    val rs2 = plan("ann_similarity_histogram").linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(rs2.contains("embedding") && rs2.contains("vec_id") &&
      !rs2.contains("label"), rs2)
  }

  test("repo-wide sweep: partitionless windows only over documented bounded relations") {
    // a Window with no partitionBy funnels its whole input through one
    // task — acceptable ONLY when that input is provably planner-sized.
    // Mirror of the no-SortAggregate sweep: every query either has zero
    // partitionless windows, or appears here with the reason its
    // windowed relation is bounded. Additions should hurt a little.
    // (the sweep reads the WindowExec/WindowGroupLimitExec nodes of each
    // query's initial adaptive plan)
    val bounded = Map(
      "events_cum_users" -> "O(days): first-activity day roll-up",
      "events_changepoint" -> "O(days): daily counts (cusum + argmax pass)",
      "text_quality_deciles" -> "O(distinct scores): small-integer score histogram",
      "events_power_pareto" -> "O(distinct per-user counts): count histogram",
      // layout_range_split / events_rfm / profile_sample_error /
      // events_ab_mannwhitney left this list r12: their rank passes now
      // run on Boundaries.prefixSum (range-repartition + per-partition
      // offsets + pid-partitioned local windows) — no partitionless
      // WindowExec remains in any of the four plans, which the sweep
      // below now verifies like every other query. The r11 whitelist
      // reasons claimed "O(distinct values)" for money metrics where
      // distinct ≈ users; the claim is retired with the shape.
      "cdc_gap_detect" -> "O(buckets): per-bucket extrema stitch",
      "events_survival_curve" ->
        "O(day offsets): duration histogram (at-risk cumulative + rank)",
      "search_hybrid_fusion" ->
        "O(K): rank passes over two TakeOrdered top-50 shortlists",
      "text_heaps_curve" ->
        "O(10): first-seen decile census cumulative",
      "events_ab_holm" ->
        "O(metrics): rank + step-down over the 4-row metric relation")
    val sweep = CatalogSweep.catalog
    val skip = Set("agg_cms_heavy_hitters", "dedup_keep_canonical",
      "dedup_cluster_sizes") // composes dedup_clusters
    val offenders = sweep.partitionlessWindows
      .filterNot(skip).filterNot(_.endsWith("_clusters"))
      .filterNot(bounded.contains)
    assert(offenders.isEmpty,
      s"undocumented partitionless window (single-task funnel) in: $offenders")
    // keep the whitelist honest: an entry whose query no longer plans
    // a partitionless window must be deleted, not left to rot
    val stale = bounded.keys.toSeq.sorted
      .filter(sweep.facts(_).partitionlessWindows.isEmpty)
    assert(stale.isEmpty, s"whitelist entries with no partitionless window: $stale")
  }

  test("every registered boundary-sample rate stays under the 1/32 ceiling") {
    // A "rate-bounded" ordered pass is only scale-safe when the rate is
    // planner-sized — round 9 shipped a nominal sample that kept 25% of
    // users. Every salted-md5 boundary-sampling rate must be registered
    // in graft.SampleRates, and none may exceed the declared ceiling.
    assert(graft.SampleRates.rates.nonEmpty)
    for ((name, hex) <- graft.SampleRates.rates) {
      val f = graft.SampleRates.fraction(hex)
      assert(f > 0.0 && f <= graft.SampleRates.Ceiling,
        f"$name: rate $hex = $f%.4f exceeds ceiling ${graft.SampleRates.Ceiling}%.4f")
    }
    // and the registry can't rot: SCAN the source tree for every
    // salted-md5 threshold literal (`substr(md5(...)) < '<hex>'`, Scala
    // or SQL) and demand each one is either a registered SampleRates
    // value or an explicitly-classified non-sampling use. A new sampling
    // constant added anywhere fails here until it is classified —
    // unlike the previous check, which only re-listed known rates.
    val routingThresholds = Map(
      // train/val/test SPLIT routing: every row is kept and routed, no
      // cardinality is reduced, so the boundary-sample ceiling does not
      // apply (used by text_train_split / Curation / Profiling splits)
      "e666" -> "train/val cut of the 90/5/5 split router",
      "f333" -> "val/test cut of the 90/5/5 split router",
      // text_sample_hash's 10% PRODUCT sample: the sample IS the
      // query's deliverable (a deterministic corpus subset), not a
      // boundary-placement pass feeding a partitionless sort
      "1999" -> "text_sample_hash product sample (output = the sample)",
      // cdc_dead_letter's FAULT INJECTOR: 1/32 of wire messages are
      // deterministically corrupted; the set is the oracle's expected
      // dead-letter set, not a cardinality-reducing sample
      "08" -> "cdc_dead_letter fault-injection set (oracle = same set)",
      // profile_approx_groupby's ESTIMATOR sample: the ~3.1% sample is
      // the estimator's input (CLT bars vs exact), never a funnel into
      // a partitionless boundary sort
      "07f" -> "profile_approx_groupby estimator sample (CLT bars)")
    val registered = graft.SampleRates.rates.values.toSet
    val hexRe = """<\s*(?:lit\()?['"]([0-9a-f]{2,8})['"]""".r
    def scalaFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
      }
    val offenders = scalaFiles(new java.io.File("src/main/scala")).flatMap { f =>
      val raw = new String(
        java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      // collapse stripMargin line wraps so `substr(...)\n  | < 'hex'`
      // still matches: drop newline + indent + margin pipe
      val content = raw.replaceAll("\n\\s*\\|?\\s*", " ")
      hexRe.findAllMatchIn(content).flatMap { m =>
        val windowStart = math.max(0, m.start - 200)
        val window = content.substring(windowStart, m.start)
        val hex = m.group(1)
        if (window.contains("md5") && !registered.contains(hex) &&
            !routingThresholds.contains(hex))
          Some(s"${f.getPath}: unclassified md5 threshold '$hex'")
        else None
      }
    }
    assert(offenders.isEmpty,
      s"""salted-md5 threshold literals outside the SampleRates registry:
         |  ${offenders.mkString("\n  ")}
         |Register boundary-sampling rates in graft.SampleRates (ceiling
         |1/32) or classify routing/product-sample uses in this spec's
         |routingThresholds map with a reason.""".stripMargin)
    // the scan itself can't rot silently either: it must SEE the
    // registered + routing constants that exist today
    assert(graft.SampleRates.rates.size >= 2, "registry unexpectedly empty")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // At 100 TB a selective dim filter should cut fact-scan rows BEFORE
    // the shuffle: Spark's runtime row-level filter builds a bloom
    // filter on the filtered creation side and injects might_contain
    // into the fact scan. The optimization is size-gated (fact side
    // ≥ 10 GB by default) so it never fires at test scale — lower the
    // gates to prove the engine path works, restore them after.
    val c = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> c.get(k))
    try {
      c.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the shuffle join shape
      import org.apache.spark.sql.functions.col
      val ord = sources.Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val li = sources.Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        s"runtime bloom filter did not inject:\n$p")
      joined.collect() // and the filtered plan still executes correctly
    } finally saved.foreach { case (k, v) => c.set(k, v) }
  }
}
