package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Relational analytic surface (SURVEY.md §2.7 consequence: the reference
  * has NO relational operators, so this breadth comes from the north-star
  * requirements, exercised over the TPC-H-ish corpus).
  *
  * Scale design notes (100 TB):
  *  - Dimension joins (region/nation/customer at TPC-H ratios) are
  *    broadcast explicitly — no shuffle of the fact table for them.
  *  - Fact-fact joins (lineitem ⋈ orders) shuffle on the join key once;
  *    AQE picks shuffle-hash vs sort-merge and handles skew.
  *  - All aggregates are partial-aggregation friendly (sum/count/max_by),
  *    so map-side combine keeps shuffle volume O(groups), not O(rows).
  *  - Money math goes through exact decimals (inputs have 2 decimal
  *    digits) and is cast to double only at the end: results are
  *    bitwise-identical to the DuckDB oracle regardless of partitioning,
  *    accumulation order, or parallelism — a determinism property that
  *    also holds on a 1000-executor cluster.
  */
object Relational {

  // Shared with TpchRest — ONE definition of the exact-decimal money
  // widths: a drift between files would silently desynchronize rounding
  // between the two query sets while each still passed its own oracle.
  private[operators] val money = "decimal(18,2)" // prices, quantities, balances
  private[operators] val rate = "decimal(9,2)"   // discount/tax in [0,1]

  private def dsum(c: Column): Column = sum(c.cast(money)).cast("double")

  /** revenue = extendedprice * (1 - discount), exact decimal. */
  private[operators] def revenue: Column =
    (col("l_extendedprice").cast(money) *
      (lit(1).cast(rate) - col("l_discount").cast(rate)))
  private[operators] val revenueSql =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(9,2)) - CAST(l_discount AS DECIMAL(9,2)))"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TPC-H Q1 shape: wide grouped aggregation with derived measures.
    "q1_pricing_summary" -> ((s, d) => {
      Tables.lineitemShared(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(revenue).cast("double").as("sum_disc_price"),
          sum(revenue * (lit(1).cast(rate) + col("l_tax").cast(rate)))
            .cast("double").as("sum_charge"),
          (sum(col("l_quantity").cast(money)).cast("double") / count(lit(1)))
            .as("avg_qty"),
          (sum(col("l_extendedprice").cast(money)).cast("double") / count(lit(1)))
            .as("avg_price"),
          count(lit(1)).as("count_order"))
    }),

    // TPC-H Q3 shape: 3-way join (dim filter → facts), agg, top-k.
    "q3_topk_revenue" -> ((s, d) => {
      val cust = Tables.customerShared(s, d).filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.ordersShared(s, d)
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = Tables.lineitemShared(s, d)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(revenue).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape: snowflake join through two broadcast dims.
    "q5_region_volume" -> ((s, d) => {
      val asia = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val nat = Tables.nation(s, d)
        .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
      val cust = Tables.customerShared(s, d)
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      Tables.lineitemShared(s, d)
        .join(Tables.ordersShared(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust.select("c_custkey", "n_name")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("n_name")
        .agg(sum(revenue).cast("double").as("revenue"),
          count(lit(1)).as("n_lineitems"))
    }),

    // TPC-H Q4 shape: correlated EXISTS against the fact table — orders
    // in a window with at least one late-shipped line, counted per
    // priority. Plans as a LEFT SEMI join on the order key: the probe
    // side streams, the EXISTS never duplicates orders, and the
    // non-equi shipdate condition rides the semi join.
    "q4_priority_exists" -> ((s, d) => {
      val ord = Tables.ordersShared(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
      val li = Tables.lineitemShared(s, d).select("l_orderkey", "l_shipdate")
      ord.join(li,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "leftsemi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    }),

    // TPC-H Q14 shape: promo revenue share — a conditional-aggregate
    // ratio over one broadcast dimension join. Decimal sums keep the
    // numerator/denominator exact; the single final division is the
    // only float op, so the percentage is bit-identical to the oracle.
    "q14_promo_share" -> ((s, d) => {
      val li = Tables.lineitemShared(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      li.join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          (lit(100.0) * sum(when(col("p_type") === "PROMO", revenue)).cast("double") /
            sum(revenue).cast("double")).as("promo_pct"),
          sum(when(col("p_type") === "PROMO", revenue)).cast("double").as("promo_revenue"),
          sum(revenue).cast("double").as("total_revenue"))
    }),

    // TPC-H Q19 shape: disjunction of conjunctive bands (brand × size ×
    // quantity). One broadcast equi-join on partkey carries all three
    // branches; the OR-filter evaluates post-join inside codegen — no
    // union-of-three-scans blowup, one pass over the fact table.
    "q19_disjunct_bands" -> ((s, d) => {
      val li = Tables.lineitemShared(s, d)
      val branch1 = col("p_brand") === "Brand#12" &&
        col("p_size").between(1, 5) && col("l_quantity").between(1, 11)
      val branch2 = col("p_brand") === "Brand#23" &&
        col("p_size").between(1, 10) && col("l_quantity").between(10, 20)
      val branch3 = col("p_brand") === "Brand#34" &&
        col("p_size").between(1, 15) && col("l_quantity").between(20, 30)
      li.join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand", "p_size")),
          col("l_partkey") === col("p_partkey"))
        .filter(branch1 || branch2 || branch3)
        .agg(sum(revenue).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q8 shape: national market share — the widest join in the
    // suite (lineitem, part, supplier, orders, customer, nation×2,
    // region). Selectivity drives the plan: part is filtered on p_type
    // and broadcast, supplier+nation decode broadcasts, the
    // customer→nation→region chain broadcasts its dims and reduces
    // customer to a key set BEFORE the fact joins, and orders carries
    // its date filter to the scan. Only two shuffles of fact-scale
    // data remain (orders⋈customer key set on custkey; that result
    // ⋈lineitem on orderkey) — at 100 TB those are the honest cost,
    // everything else rides a broadcast. The share division happens in
    // DOUBLE after exact-decimal sums: decimal division scale rules
    // differ between engines, double division is IEEE-identical.
    "q8_market_share" -> ((s, d) => {
      val pt = Tables.part(s, d)
        .filter(col("p_type") === "ECONOMY").select("p_partkey")
      val supN = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .select("s_suppkey", "supp_nation")
      val custEur = Tables.customerShared(s, d)
        .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey")
      val ord = Tables.ordersShared(s, d)
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .join(custEur, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      Tables.lineitemShared(s, d)
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_year")
        .agg(
          sum(when(col("supp_nation") === "NATION_3", revenue))
            .cast("double").as("nation_revenue"),
          sum(revenue).cast("double").as("total_revenue"))
        .select(col("o_year"),
          coalesce(col("nation_revenue"), lit(0.0)).as("nation_revenue"),
          col("total_revenue"),
          (coalesce(col("nation_revenue"), lit(0.0)) / col("total_revenue"))
            .as("mkt_share"))
    }),

    // TPC-H Q7 shape: nation-pair trade volume. The two big relations
    // (orders⋈customer, then ⋈lineitem) shuffle co-keyed on their join
    // keys — customer is unfiltered, so broadcasting it would not
    // survive a 100× scale-up; supplier and nation ARE broadcast (dim
    // tables orders of magnitude under the fact). The nation decode
    // happens twice under different aliases, once per side of the pair.
    "q7_nation_volume" -> ((s, d) => {
      val natS = Tables.nation(s, d)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val natC = Tables.nation(s, d)
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      val sup = Tables.supplier(s, d)
        .join(broadcast(natS), col("s_nationkey") === col("sn_key"))
        .select(col("s_suppkey"), col("supp_nation"))
      val custN = Tables.customerShared(s, d)
        .join(broadcast(natC), col("c_nationkey") === col("cn_key"))
        .select(col("c_custkey"), col("cust_nation"))
      val ord = Tables.ordersShared(s, d).select("o_orderkey", "o_custkey")
        .join(custN, col("o_custkey") === col("c_custkey"))
      Tables.lineitemShared(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(sum(revenue).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q10 shape: returned-item revenue ranking — who returned the
    // most value last quarter. Selective filters (returnflag, quarter)
    // reach both scans before the orderkey shuffle join; customer joins
    // by shuffle (unfiltered), nation by broadcast; top-20 is a bounded
    // TakeOrdered, never a global sort.
    "q10_returned_revenue" -> ((s, d) => {
      val li = Tables.lineitemShared(s, d).filter(col("l_returnflag") === "R")
      val ord = Tables.ordersShared(s, d)
        .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val nat = Tables.nation(s, d).select("n_nationkey", "n_name")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customerShared(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name").as("nation"))
        .agg(sum(revenue).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // Broadcast dimension chain: the D5 relation-lookup join done at
    // warehouse scale (stream side never shuffles).
    "join_broadcast_dims" -> ((s, d) => {
      val geo = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
      Tables.customerShared(s, d)
        .join(broadcast(geo), col("c_nationkey") === col("n_nationkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_customers"),
          dsum(col("c_acctbal")).as("total_acctbal"))
    }),

    // Big-big equi-join (shuffle on the key, AQE decides the algorithm).
    "join_orders_lineitem" -> ((s, d) => {
      Tables.ordersShared(s, d)
        .join(Tables.lineitemShared(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          dsum(col("l_extendedprice")).as("total_price"),
          countDistinct(col("o_orderkey")).as("n_orders"))
    }),

    // EXISTS — left-semi: customers that placed at least one urgent order.
    "join_semi" -> ((s, d) => {
      val urgent = Tables.ordersShared(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      Tables.customerShared(s, d)
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
    }),

    // NOT EXISTS — left-anti: customers with no orders at all.
    "join_anti" -> ((s, d) => {
      Tables.customerShared(s, d)
        .join(Tables.ordersShared(s, d), col("c_custkey") === col("o_custkey"),
          "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    }),

    // NULL-safe equi-join (<=> / IS NOT DISTINCT FROM): the corpus has
    // no NULL keys, so both rollups derive one via NULLIF — the NULL
    // row surviving the join is exactly what separates <=> from = (a
    // plain join drops it silently). <=> remains a HASHABLE equi-key
    // (EqualNullSafe is a valid hash-join key in Catalyst), so this
    // plans as a broadcast/hash join, not a nested loop — which is why
    // the operator matters at scale: the naive `a = b OR (a IS NULL
    // AND b IS NULL)` rewrite is NOT recognized as an equi-key and
    // degrades to BNLJ.
    "join_null_safe" -> ((s, d) => {
      val k = when(col("l_returnflag") === "N", lit(null)).otherwise(col("l_returnflag"))
      val a = Tables.lineitemShared(s, d).groupBy(k.as("flag"))
        .agg(count(lit(1)).as("n_all"))
      val b = Tables.lineitemShared(s, d).filter(col("l_linestatus") === "F")
        .groupBy(k.as("flag_b")).agg(count(lit(1)).as("n_finished"))
      a.join(b, col("flag") <=> col("flag_b"))
        .select(col("flag"), col("n_all"), col("n_finished"))
    }),

    // Sort + limit top-k with total tie-break (rank boundary stable).
    "topk_orders" -> ((s, d) => {
      Tables.ordersShared(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    }),

    // Window: top-3 orders per customer by price, written as the plain
    // row_number formulation — the RankLimitRewrite optimizer rule turns
    // it into the two-phase TopKPerKey operator automatically (the
    // driver's oracle check therefore verifies the rewrite end-to-end).
    "window_rank_orders" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.ordersShared(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    }),

    // Window: lag/lead deltas along the per-user event timeline.
    "window_lag_events" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables.eventsShared(s, d)
        .withColumn("prev_value", lag("value", 1).over(w))
        .withColumn("delta", col("value") - col("prev_value"))
        .select("event_id", "user_id", "value", "prev_value", "delta")
    }),

    // Window: exact running sum per key (decimal accumulation → the
    // result is frame-order deterministic, unlike double accumulation).
    "window_running_sum" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("event_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.eventsShared(s, d)
        .withColumn("running_value", sum(col("value").cast(money)).over(w)
          .cast("double"))
        .select("event_id", "user_id", "value", "running_value")
    }),

    // Set operations.
    "set_intersect" -> ((s, d) => {
      val building = Tables.customerShared(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
      val withOrders = Tables.ordersShared(s, d)
        .select(col("o_custkey").as("custkey"))
      building.intersect(withOrders)
    }),
    "set_except" -> ((s, d) => {
      val all = Tables.customerShared(s, d).select(col("c_custkey").as("custkey"))
      val withOrders = Tables.ordersShared(s, d).select(col("o_custkey").as("custkey"))
      all.except(withOrders)
    }),
    "set_union" -> ((s, d) => {
      val a = Tables.ordersShared(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
      val b = Tables.ordersShared(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("custkey"))
      a.union(b).distinct()
    }),

    // ROLLUP hierarchy totals.
    "agg_rollup" -> ((s, d) => {
      Tables.lineitemShared(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
    }),

    // CUBE over two dims.
    "agg_cube" -> ((s, d) => {
      Tables.ordersShared(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
    }),

    // Exact distinct counting (expands to two-phase agg in Spark).
    "agg_distinct" -> ((s, d) => {
      Tables.lineitemShared(s, d)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
    }),

    // GROUP BY + HAVING.
    "agg_having" -> ((s, d) => {
      Tables.ordersShared(s, d)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
        .filter(col("n_orders") >= 5)
    }),

    // Scalar string functions (all codegen'd built-ins, no UDFs).
    "scalar_string" -> ((s, d) => {
      Tables.part(s, d).select(
        col("p_partkey"),
        upper(col("p_name")).as("up_name"),
        lower(col("p_type")).as("low_type"),
        length(col("p_name")).as("name_len"),
        substring(col("p_name"), 1, 4).as("name4"),
        regexp_replace(col("p_brand"), "#", "-").as("brand_dash"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
        trim(col("p_name")).as("trimmed"),
        reverse(col("p_name")).as("rev_name"))
    }),

    // Scalar date functions.
    "scalar_date" -> ((s, d) => {
      Tables.ordersShared(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        quarter(col("o_orderdate")).as("qtr"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(col("o_orderdate").cast("date"),
          lit("1995-01-01").cast("date")).as("days_since_epoch95"))
    }),

    // Scalar math (only operations with engine-identical IEEE results).
    "scalar_math" -> ((s, d) => {
      Tables.lineitemShared(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_extendedprice")).as("abs_price"),
        ceil(col("l_extendedprice")).as("ceil_price"),
        floor(col("l_extendedprice")).as("floor_price"),
        sqrt(col("l_quantity")).as("sqrt_qty"),
        (col("l_extendedprice") * col("l_quantity")).as("prod"),
        greatest(col("l_discount"), col("l_tax")).as("max_rate"),
        least(col("l_discount"), col("l_tax")).as("min_rate"),
        pmod(col("l_orderkey"), lit(7)).as("key_mod7"))
    }),

    // CASE WHEN bucketing + conditional aggregation.
    "scalar_case" -> ((s, d) => {
      Tables.ordersShared(s, d)
        .withColumn("tier",
          when(col("o_totalprice") >= 200000, "high")
            .when(col("o_totalprice") >= 100000, "mid")
            .otherwise("low"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_finished"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM($revenueSql) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM($revenueSql * (CAST(1 AS DECIMAL(9,2)) + CAST(l_tax AS DECIMAL(9,2)))) AS DOUBLE) AS sum_charge,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_topk_revenue" ->
      s"""SELECT l_orderkey, o_orderdate,
         |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin,
    "q5_region_volume" ->
      s"""SELECT n_name,
         |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_lineitems
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name""".stripMargin,
    "q4_priority_exists" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin,
    "q14_promo_share" ->
      s"""SELECT
         |  100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $revenueSql END) AS DOUBLE)
         |    / CAST(SUM($revenueSql) AS DOUBLE) AS promo_pct,
         |  CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $revenueSql END) AS DOUBLE) AS promo_revenue,
         |  CAST(SUM($revenueSql) AS DOUBLE) AS total_revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-01-01'""".stripMargin,
    "q19_disjunct_bands" ->
      s"""SELECT CAST(SUM($revenueSql) AS DOUBLE) AS revenue, COUNT(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q8_market_share" ->
      s"""WITH eur_cust AS (
         |  SELECT c_custkey FROM customer
         |  JOIN nation ON c_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |  WHERE r_name = 'EUROPE'),
         |l AS (
         |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         |    CASE WHEN sn.n_name = 'NATION_3' THEN $revenueSql END AS nrev,
         |    $revenueSql AS rev
         |  FROM lineitem
         |  JOIN part ON l_partkey = p_partkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation sn ON s_nationkey = sn.n_nationkey
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN eur_cust ON o_custkey = c_custkey
         |  WHERE p_type = 'ECONOMY'
         |    AND o_orderdate >= TIMESTAMP '1995-01-01'
         |    AND o_orderdate < TIMESTAMP '1997-01-01')
         |SELECT o_year,
         |  COALESCE(CAST(SUM(nrev) AS DOUBLE), 0.0) AS nation_revenue,
         |  CAST(SUM(rev) AS DOUBLE) AS total_revenue,
         |  COALESCE(CAST(SUM(nrev) AS DOUBLE), 0.0) / CAST(SUM(rev) AS DOUBLE) AS mkt_share
         |FROM l GROUP BY o_year""".stripMargin,
    "q7_nation_volume" ->
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue, COUNT(*) AS n_lines
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-01-01'
         |  AND sn.n_name <> cn.n_name
         |GROUP BY 1, 2""".stripMargin,
    "q10_returned_revenue" ->
      s"""SELECT c_custkey, c_name, n_name AS nation,
         |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1997-07-01'
         |  AND o_orderdate < TIMESTAMP '1997-10-01'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "join_broadcast_dims" ->
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "join_orders_lineitem" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  COUNT(DISTINCT o_orderkey) AS n_orders
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus""".stripMargin,
    "join_null_safe" ->
      """WITH a AS (
        |  SELECT NULLIF(l_returnflag, 'N') AS flag, COUNT(*) AS n_all
        |  FROM lineitem GROUP BY 1),
        |b AS (
        |  SELECT NULLIF(l_returnflag, 'N') AS flag_b, COUNT(*) AS n_finished
        |  FROM lineitem WHERE l_linestatus = 'F' GROUP BY 1)
        |SELECT flag, n_all, n_finished
        |FROM a JOIN b ON flag IS NOT DISTINCT FROM flag_b""".stripMargin,
    "join_semi" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "window_rank_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t WHERE rn <= 3""".stripMargin,
    "window_lag_events" ->
      """SELECT event_id, user_id, value,
        |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value,
        |  value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS delta
        |FROM events""".stripMargin,
    "window_running_sum" ->
      """SELECT event_id, user_id, value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        |FROM events""".stripMargin,
    "set_intersect" ->
      """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders""".stripMargin,
    "set_except" ->
      """SELECT c_custkey AS custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders""".stripMargin,
    "set_union" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |UNION
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "agg_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "agg_having" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 5""".stripMargin,
    "scalar_string" ->
      """SELECT p_partkey, UPPER(p_name) AS up_name, LOWER(p_type) AS low_type,
        |  CAST(LENGTH(p_name) AS INT) AS name_len, SUBSTR(p_name, 1, 4) AS name4,
        |  REPLACE(p_brand, '#', '-') AS brand_dash,
        |  p_brand || ':' || p_type AS brand_type,
        |  TRIM(p_name) AS trimmed, REVERSE(p_name) AS rev_name
        |FROM part""".stripMargin,
    "scalar_date" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(month(o_orderdate) AS INT) AS mo,
        |  CAST(day(o_orderdate) AS INT) AS dom,
        |  CAST(quarter(o_orderdate) AS INT) AS qtr,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS INT) AS days_since_epoch95
        |FROM orders""".stripMargin,
    "scalar_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  ABS(l_extendedprice) AS abs_price,
        |  CAST(CEIL(l_extendedprice) AS BIGINT) AS ceil_price,
        |  CAST(FLOOR(l_extendedprice) AS BIGINT) AS floor_price,
        |  SQRT(l_quantity) AS sqrt_qty,
        |  l_extendedprice * l_quantity AS prod,
        |  GREATEST(l_discount, l_tax) AS max_rate,
        |  LEAST(l_discount, l_tax) AS min_rate,
        |  l_orderkey % 7 AS key_mod7
        |FROM lineitem""".stripMargin,
    "scalar_case" ->
      """SELECT CASE WHEN o_totalprice >= 200000 THEN 'high'
        |  WHEN o_totalprice >= 100000 THEN 'mid' ELSE 'low' END AS tier,
        |  COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished
        |FROM orders
        |GROUP BY 1""".stripMargin
  )
}
