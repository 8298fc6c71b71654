package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Sequence- and affinity-mining operators over the event log and order
  * baskets — the "what happens next / what goes together" analytics a
  * behavioral pipeline derives from the same CDC stream the reference
  * replicates (reference surface: the events table the pipeline's
  * consumers query; cf. /root/reference/cmd/es_consumer/main.go:44-95,
  * which materializes exactly this per-entity event history).
  *
  * Scale design:
  *  - `events_transition_matrix` — one window pass per user (shuffle on
  *    user_id, sort by the LSN-analog event_id) + one hash aggregation
  *    over (from, to) — state-machine-sized output regardless of input
  *    rows. The per-from normalization runs over the aggregated matrix
  *    (≤ |event types|² rows), not the event log.
  *  - `basket_part_pairs` — pairs are generated from per-order sorted
  *    part arrays (one groupBy on the natural key), NOT an item×item
  *    self-join: per-basket expansion is bounded by max basket size
  *    (TPC-H ≤ 7 ⟹ ≤ 21 pairs/order), so the pair relation is O(orders)
  *    and there is no join-key skew to guard. The DuckDB oracle uses the
  *    equivalent self-join formulation — different plan, same relation —
  *    which also documents the algebraic identity being exploited.
  *  - `asof_tolerance` — as-of join with a staleness bound (pandas
  *    merge_asof's `tolerance`), expressed as a RANGE window frame over
  *    the ordering key: one exchange, no range-join explosion, no
  *    broadcast needed at any scale.
  */
object Mining {

  /** asof_tolerance staleness bound, in event_id (LSN) units. */
  private val ASOF_TOL = 200L

  /** events_decay_score half-life, in event_id (LSN) units. */
  private val DECAY_HL = 1000L

  /** Decay exponent cap: contributions older than CAP half-lives floor
    * at 2^-CAP ≈ 9e-13 instead of underflowing — and, more importantly,
    * the cap is what makes the whole sum EXACT (see the query comment).
    */
  private val DECAY_CAP = 40

  /** events_burst_days anomaly threshold, in self-baseline std units. */
  private val BURST_Z = 2.0

  /** events_top_paths: opening-sequence length and report size. */
  private val PATH_LEN = 5
  private val PATH_TOP = 20

  /** events_markov_stationary: unrolled power-iteration rounds. */
  private val MARKOV_ITERS = 4

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Markov transition matrix: count (event_type → next event_type)
    // per user-ordered sequence, with per-from transition probability.
    // prob is one IEEE division of two exact longs — bit-identical in
    // both engines (sum ≤ event count ≪ 2^53).
    "events_transition_matrix" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      val trans = Tables.eventsShared(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"))
        .withColumn("to_event", lead(col("event_type"), 1).over(w))
        .filter(col("to_event").isNotNull)
        .groupBy(col("event_type").as("from_event"), col("to_event"))
        .agg(count(lit(1)).as("n_transitions"))
      val wf = Window.partitionBy("from_event")
      trans.withColumn("prob",
        col("n_transitions").cast("double") /
          sum("n_transitions").over(wf).cast("double"))
    }),

    // Stationary distribution of the event-type Markov chain — where
    // the transition matrix's probability mass settles, i.e. the
    // long-run share of traffic per event type if users kept walking
    // the observed chain. Power iteration in INTEGER rank units (the
    // graph_pagerank convention: π₀ = 1e12 per from-state, each step
    // splits π(i)·n(i,j) div r(i) with positive-operand floor division
    // — bit-identical across engines, no float accumulation order to
    // disagree on). The chain itself is O(types²) ≤ 25 rows after ONE
    // user-partitioned window pass over the fact table, so the
    // iteration runs driver-side on the collected matrix (the
    // centroidSeq convention: a planner-sized collect, bounded by
    // construction) and the oracle unrolls the identical rounds as
    // CTEs. Overflow: π_total·max_cell_n must stay < 2^63 — at R0=1e12
    // that allows ~1.8e6 transitions per cell (sf0.1 has ~24k);
    // rescale R0 before corpora grow 100×. States = types observed as
    // transition SOURCES; mass reaching a sink-only type is dropped by
    // the next round in both engines alike.
    "events_markov_stationary" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy("user_id").orderBy("event_id")
      val trans = Tables.eventsShared(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"))
        .withColumn("to_event", lead(col("event_type"), 1).over(w))
        .filter(col("to_event").isNotNull)
        .groupBy(col("event_type").as("from_event"), col("to_event"))
        .agg(count(lit(1)).as("n_transitions"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val rowTot = trans.groupBy(_._1).map { case (f, rs) =>
        (f, rs.map(_._3).sum)
      }
      val R0 = 1000000000000L
      var pi: Map[String, Long] = rowTot.keys.map(_ -> R0).toMap
      for (_ <- 1 to MARKOV_ITERS) {
        pi = trans.flatMap { case (f, t, n) =>
          pi.get(f).map(p => (t, p * n / rowTot(f)))
        }.groupBy(_._1).map { case (t, cs) => (t, cs.map(_._2).sum) }
      }
      val total = pi.values.sum
      pi.toSeq.map { case (t, u) =>
        (t, u, u.toDouble / total.toDouble)
      }.toDF("event_type", "stationary_units", "stationary_share")
    }),

    // Market-basket affinity: top co-occurring part pairs across order
    // baskets. sort_array makes pair generation order-canonical
    // (part_a < part_b) without a distinct; ties in the top-k are fully
    // ordered.
    "basket_part_pairs" -> ((s, d) => {
      val baskets = Tables.lineitemShared(s, d)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      baskets
        .filter(size(col("parts")) >= 2)
        .select(explode(flatten(transform(col("parts"), (x, i) =>
          transform(slice(col("parts"), i + lit(2), size(col("parts"))),
            y => struct(x.as("a"), y.as("b")))))).as("p"))
        .groupBy(col("p.a").as("part_a"), col("p.b").as("part_b"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
        .limit(25)
    }),

    // As-of join with tolerance: for each purchase, the latest earlier
    // click of the same user NO OLDER than ASOF_TOL event-ids — the
    // bounded-staleness variant of asof_click_purchase. The RANGE frame
    // [−TOL, −1] over the ordering key is the single-exchange form; a
    // match outside the window correctly yields NULL (stale click
    // ignored), which an unbounded-preceding frame cannot express.
    "asof_tolerance" -> ((s, d) => {
      val ec = Tables.eventsShared(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          when(col("event_type") === "click", col("event_id")).as("click_id"))
      val w = Window.partitionBy("user_id").orderBy(col("event_id"))
        .rangeBetween(-ASOF_TOL, -1)
      ec.withColumn("last_click", max(col("click_id")).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("last_click"))
    }),

    // Exponentially time-decayed per-user activity score (the decayed
    // counter behind recency-weighted engagement ranking): each event
    // contributes 2^-(age div HL) half-lives after the user's latest
    // event, capped at 2^-CAP.
    //
    // Determinism by construction: float exponential sums are
    // order-dependent across partitionings, so instead each term is the
    // INTEGER 2^(CAP - k) in units of 2^-CAP (a single bit), summed as
    // a long — associative, partition-order-free, and engine-exact; the
    // score is one long→double conversion + one IEEE division at the
    // end (both deterministic round-to-nearest in Spark and DuckDB).
    // Overflow bound: per-user sum ≤ n·2^CAP, safe for n < 2^23 ≈ 8.4M
    // events/user (raise CAP losses or shard the window beyond that).
    //
    // One exchange total: the window partitions by user_id and the
    // groupBy reuses that partitioning, so the event payload shuffles
    // once regardless of corpus size.
    "events_decay_score" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
      Tables.eventsShared(s, d)
        .select(col("user_id"), col("event_id"))
        .withColumn("m", max("event_id").over(w))
        .withColumn("n_events", count(lit(1)).over(w))
        .withColumn("units", expr(
          s"shiftleft(cast(1 as bigint), cast($DECAY_CAP - " +
            s"least((m - event_id) div $DECAY_HL, $DECAY_CAP) as int))"))
        .groupBy("user_id", "n_events")
        .agg(sum("units").as("score_units"))
        .withColumn("decay_score",
          col("score_units").cast("double") / math.pow(2.0, DECAY_CAP))
    }),

    // Burst detection against each user's OWN baseline: days whose event
    // count exceeds the user's mean daily count by > BURST_Z of the
    // user's own std — the per-entity anomaly screen (account takeover,
    // scraper bursts) that a global outlier scan can't see, because a
    // heavy user's normal day outweighs a light user's 10× spike.
    // Baseline = the user's ACTIVE days (zero-days would need a spine
    // join — events_resample_daily is that operator; self-baseline on
    // active days is the standard burst heuristic).
    //
    // Determinism: moments stay INTEGER to the end — var = (n·Σc² −
    // (Σc)²) / n² as one long numerator and denominator, converted once
    // — and z needs only exact conversions, one subtraction, one
    // division and sqrt, which IEEE 754 requires correctly rounded
    // (unlike log/exp), so both engines agree bitwise. Overflow bound:
    // n·Σc² < 2^63 holds to ~1e5 active days × ~3e6 events/day.
    // Shuffle shape: daily rollup (one exchange of (user, day) keys),
    // then a user-partition window over day rows — O(user-days), the
    // raw event payload moves once.
    "events_burst_days" -> ((s, d) => {
      val daily = Tables.eventsShared(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"))
      val w = Window.partitionBy("user_id")
      daily
        .withColumn("n_days", count(lit(1)).over(w))
        .withColumn("s", sum("n_events").over(w))
        .withColumn("ss", sum(col("n_events") * col("n_events")).over(w))
        .withColumn("num", col("n_days") * col("ss") - col("s") * col("s"))
        .withColumn("mean_daily",
          col("s").cast("double") / col("n_days").cast("double"))
        .withColumn("z",
          (col("n_events").cast("double") - col("mean_daily")) /
            sqrt(col("num").cast("double") /
              (col("n_days") * col("n_days")).cast("double")))
        .filter(col("num") > 0 && col("z") > BURST_Z)
        .select("user_id", "day", "n_events", "mean_daily", "z")
    }),

    // Session-level conversion funnel: sessionize (the window_sessionize
    // gap rule — new session after a >30 min silence), then per session
    // keep only two conditional extremes — first click LSN and last
    // purchase LSN — and count sessions where a purchase FOLLOWED a
    // click (order by event_id = commit order, so "followed" is exact,
    // not timestamp-tie-lucky). Shape: the event payload shuffles once
    // into the per-user session window; the session relation is
    // O(sessions) and the funnel is a 1-row global agg of integer
    // flags. conv_rate is two exact long→double conversions and one
    // IEEE division — engine-identical bits.
    "events_session_funnel" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("event_id")
      val gapFlag = when(
        unix_micros(col("ts")) -
          unix_micros(lag(col("ts"), 1).over(byUser)) > 1800L * 1000000L, 1)
        .otherwise(0)
      val sessions = Tables.eventsShared(s, d)
        .withColumn("new_session", gapFlag)
        .withColumn("session_id",
          sum(col("new_session")).over(
            byUser.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(
          min(when(col("event_type") === "click", col("event_id")))
            .as("first_click"),
          max(when(col("event_type") === "purchase", col("event_id")))
            .as("last_purchase"))
      sessions.agg(
        count(lit(1)).as("n_sessions"),
        sum(when(col("first_click").isNotNull, 1L).otherwise(0L))
          .as("n_click_sessions"),
        sum(when(col("last_purchase") > col("first_click"), 1L).otherwise(0L))
          .as("n_converted"))
        .withColumn("conv_rate",
          col("n_converted").cast("double") /
            col("n_click_sessions").cast("double"))
    }),

    // Top user journeys: the most common PATH_LEN-step opening event
    // sequence (the funnel-discovery complement of the transition
    // matrix, which only sees single steps). Scale shape: the first-k
    // prefix is a per-user top-k by event_id — RankLimitRewrite turns
    // the rn ≤ k filter into the two-phase TopKPerKey operator (per-
    // partition k-row heaps prune BEFORE the exchange), so a user with
    // a million events ships k rows, never a full sorted history. The
    // path assembly reuses the same user_id exchange (groupBy on the
    // window's own partition key), path aggregation shuffles ≤
    // |event_types|^k ≈ 5^5 path rows, and the final top-20 is a
    // TakeOrderedAndProject (per-partition heaps + a driver merge of
    // 20-row slices, never a global sort). sort_array on (event_id,
    // event_type) structs makes assembly order canonical under any
    // shard order — same trick as basket_part_pairs.
    "events_top_paths" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      val prefix = Tables.eventsShared(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= PATH_LEN)
      prefix.groupBy("user_id")
        .agg(concat_ws(">",
          transform(
            sort_array(collect_list(struct(col("event_id"), col("event_type")))),
            p => p("event_type"))).as("path"))
        .groupBy("path")
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path"))
        .limit(PATH_TOP)
    }))

  val oracles: Map[String, String] = Map(

    "events_transition_matrix" ->
      """WITH seq AS (SELECT event_type AS from_event,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS to_event
        |  FROM events),
        |m AS (SELECT from_event, to_event, COUNT(*) AS n_transitions
        |  FROM seq WHERE to_event IS NOT NULL GROUP BY 1, 2)
        |SELECT from_event, to_event, n_transitions,
        |  CAST(n_transitions AS DOUBLE) /
        |    CAST(SUM(n_transitions) OVER (PARTITION BY from_event) AS DOUBLE)
        |    AS prob
        |FROM m""".stripMargin,

    "events_markov_stationary" -> {
      val rounds = (1 to MARKOV_ITERS).map { i =>
        s"""p$i AS (SELECT m.to_event AS et,
           |    CAST(SUM((p.pi * m.n) // r.rt) AS BIGINT) AS pi
           |  FROM m JOIN p${i - 1} p ON m.from_event = p.et
           |    JOIN r ON m.from_event = r.from_event
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH seq AS (SELECT event_type AS from_event,
         |    lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
         |      AS to_event
         |  FROM events),
         |m AS (SELECT from_event, to_event, COUNT(*) AS n
         |  FROM seq WHERE to_event IS NOT NULL GROUP BY 1, 2),
         |r AS (SELECT from_event, CAST(SUM(n) AS BIGINT) AS rt
         |  FROM m GROUP BY 1),
         |p0 AS (SELECT from_event AS et, CAST(1000000000000 AS BIGINT) AS pi
         |  FROM r),
         |$rounds
         |SELECT et AS event_type, pi AS stationary_units,
         |  CAST(pi AS DOUBLE) /
         |    CAST((SELECT SUM(pi) FROM p$MARKOV_ITERS) AS DOUBLE)
         |    AS stationary_share
         |FROM p$MARKOV_ITERS""".stripMargin
    },

    "events_top_paths" ->
      s"""WITH r AS (SELECT user_id, event_id, event_type,
         |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
         |  FROM events),
         |p AS (SELECT user_id,
         |    string_agg(event_type, '>' ORDER BY event_id) AS path
         |  FROM r WHERE rn <= $PATH_LEN GROUP BY user_id)
         |SELECT path, COUNT(*) AS n_users
         |FROM p GROUP BY path
         |ORDER BY n_users DESC, path LIMIT $PATH_TOP""".stripMargin,

    // Self-join formulation — the algebraic identity of the basket
    // expansion above: pairs(sorted array) ≡ {(a,b) : same order, a<b}.
    "basket_part_pairs" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  COUNT(*) AS n_orders
        |FROM items a JOIN items b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 ORDER BY n_orders DESC, part_a, part_b LIMIT 25""".stripMargin,

    "asof_tolerance" ->
      s"""SELECT event_id AS purchase_id, user_id, last_click
         |FROM (SELECT event_id, user_id, event_type,
         |    max(CASE WHEN event_type = 'click' THEN event_id END)
         |      OVER (PARTITION BY user_id ORDER BY event_id
         |        RANGE BETWEEN $ASOF_TOL PRECEDING AND 1 PRECEDING)
         |      AS last_click
         |  FROM events WHERE event_type IN ('click', 'purchase')) t
         |WHERE event_type = 'purchase'""".stripMargin,

    // Same integer-unit algorithm; `<<` on BIGINT stays BIGINT, and the
    // SUM is cast back from DuckDB's HUGEINT widening per the repo
    // convention. 1099511627776.0 = 2^40 = 2^DECAY_CAP.
    "events_decay_score" ->
      s"""WITH w AS (SELECT user_id, event_id,
         |    MAX(event_id) OVER (PARTITION BY user_id) AS m,
         |    COUNT(*) OVER (PARTITION BY user_id) AS n_events
         |  FROM events),
         |s AS (SELECT user_id, n_events,
         |    CAST(SUM(CAST(1 AS BIGINT) << CAST($DECAY_CAP -
         |      least((m - event_id) // $DECAY_HL, $DECAY_CAP) AS INT)) AS BIGINT)
         |      AS score_units
         |  FROM w GROUP BY user_id, n_events)
         |SELECT user_id, n_events, score_units,
         |  CAST(score_units AS DOUBLE) / 1099511627776.0 AS decay_score
         |FROM s""".stripMargin,

    // Same integer-moment algorithm; SUM windows widen to HUGEINT in
    // DuckDB and are cast back, `*` on BIGINT does not widen, and the z
    // expression repeats the Spark parenthesization exactly.
    "events_burst_days" ->
      s"""WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
         |    COUNT(*) AS n_events
         |  FROM events GROUP BY 1, 2),
         |w AS (SELECT user_id, day, n_events,
         |    COUNT(*) OVER (PARTITION BY user_id) AS n_days,
         |    CAST(SUM(n_events) OVER (PARTITION BY user_id) AS BIGINT) AS s,
         |    CAST(SUM(n_events * n_events) OVER (PARTITION BY user_id)
         |      AS BIGINT) AS ss
         |  FROM daily),
         |x AS (SELECT user_id, day, n_events,
         |    n_days * ss - s * s AS num,
         |    CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_daily,
         |    (CAST(n_events AS DOUBLE) -
         |        CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)) /
         |      sqrt(CAST(n_days * ss - s * s AS DOUBLE) /
         |        CAST(n_days * n_days AS DOUBLE)) AS z
         |  FROM w)
         |SELECT user_id, day, n_events, mean_daily, z
         |FROM x WHERE num > 0 AND z > $BURST_Z""".stripMargin,

    // Same gap rule and conditional extremes; NULL comparison falls to
    // the ELSE branch in both engines, SUM/COUNT widenings cast back.
    "events_session_funnel" ->
      """WITH g AS (SELECT user_id, event_id, event_type, ts,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY event_id)) > 1800 * 1000000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (SELECT user_id, event_id, event_type,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g),
        |f AS (SELECT user_id, session_id,
        |    MIN(CASE WHEN event_type = 'click' THEN event_id END) AS first_click,
        |    MAX(CASE WHEN event_type = 'purchase' THEN event_id END) AS last_purchase
        |  FROM s GROUP BY 1, 2)
        |SELECT COUNT(*) AS n_sessions,
        |  CAST(SUM(CASE WHEN first_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click_sessions,
        |  CAST(SUM(CASE WHEN last_purchase > first_click THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
        |  CAST(SUM(CASE WHEN last_purchase > first_click THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(SUM(CASE WHEN first_click IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) AS conv_rate
        |FROM f""".stripMargin)
}
