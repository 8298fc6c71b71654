package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Corpus-curation and training-export operators — the last mile of a
  * 100 TB training-data pipeline, after dedup/quality has picked the
  * documents:
  *
  *  - `text_redact_ids` — identifier detection + redaction report. The
  *    synthetic corpus carries no emails/SSNs, so the detector targets
  *    the identifier class it DOES contain (long digit runs in entity
  *    names); the machinery — codegen'd regexp count/mask, per-cohort
  *    leak report — is byte-for-byte what a PII pass runs with a wider
  *    pattern set at scale. Pure per-row projections + one hash agg.
  *  - `text_source_temperature` — temperature-flattened source mixing
  *    weights (alpha = 0.5), the sampling curve LLM pretraining uses to
  *    up-weight small high-quality sources. sqrt is IEEE
  *    correctly-rounded on every engine (unlike pow), and the weight
  *    normalization runs on a 2^30 integer grid so the row order of the
  *    denominator sum cannot flip a ulp (same trick as the label
  *    centroids).
  *  - `text_length_histogram` — document-length histogram + cumulative
  *    shares: the packing-efficiency / truncation-loss planning input
  *    for a fixed sequence-length trainer. All integer bucket math.
  *  - `text_cross_source_dups` — the scrape-overlap radar: which pairs
  *    of sources carry the same content. Key is the leading-8-token
  *    fingerprint (the cheap near-dup proxy — exact-dup overlap is
  *    `text_dedup_rate_by_source`'s fingerprint; this one bites at
  *    every SF). One distinct (fingerprint, source) projection, then a
  *    co-partitioned self-equi-join on the fingerprint; candidates are
  *    bounded by |sources|² per fingerprint, and |sources| is a
  *    catalog-sized constant, so the join output is O(distinct
  *    fingerprints) — never quadratic in documents.
  *  - `text_source_modularity` — Newman modularity of the SOURCE
  *    partition over the content-overlap graph: do near-dup documents
  *    stay within their source (high Q — sources are self-contained) or
  *    bridge sources (low Q — scrapes copying each other, the leakage
  *    smell `text_cross_source_dups` itemizes pair-by-pair)? The
  *    leading-8-token fingerprint PARTITIONS documents into clique
  *    groups, so every modularity ingredient reduces to group×source
  *    counting — in_c = Σ_g C(n_gc,2), deg_c = Σ_g n_gc·(n_g−1),
  *    m = Σ_g C(n_g,2) — and the per-source contribution
  *    (4m·in_c − deg_c²)/(4m²) is a ratio of EXACT integers: community
  *    detection arithmetic with zero floating-point accumulation and
  *    zero iteration. Two hash aggregations + a broadcast 1-row total.
  *  - `text_export_shuffle` — deterministic pseudorandom export order:
  *    sort key = md5 of a seeded id, shard = first hex nibble. The same
  *    hash on any engine, any partitioning, any day — reproducible
  *    training runs need the shuffle to be a pure function of
  *    (seed, doc_id), never of cluster layout. Global top-k by hash
  *    order is a TakeOrdered (no full sort); the full export would
  *    repartitionByRange on the same key.
  */
object Curation {

  private val GRID = 1L << 30 // integer grid for order-independent sums
  private val SEED = "shuf42:"

  /** text_domain_cap per-source document ceiling (bites at every test
    * SF: sources carry 25–250 docs; the rule is the point, not the
    * constant).
    */
  private val DOMAIN_CAP = 15

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "text_redact_ids" -> ((s, d) => {
      val masked = Tables.customerShared(s, d)
        .select(col("c_mktsegment"), col("c_name"),
          regexp_replace(col("c_name"), "[0-9]{5,}", "*").as("redacted"))
      masked.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_names"),
          sum(when(col("c_name") =!= col("redacted"), 1L).otherwise(0L))
            .as("n_with_ids"),
          // chars removed by masking = identifier payload volume
          sum((length(col("c_name")) - length(col("redacted"))).cast("long"))
            .as("n_chars_masked"),
          countDistinct(col("redacted")).as("n_distinct_redacted"))
    }),

    "text_cross_source_dups" -> ((s, d) => {
      val fps = TextAnalysis.docsPar(s, d)
        .select(
          md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8))).as("fp"),
          col("source"))
        .distinct()
      fps.as("a").join(fps.as("b"), Seq("fp"))
        .filter(col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared"))
    }),

    // Split LEAKAGE screen — the decontamination check for the corpus's
    // OWN splits (dedup_contamination covers external benchmarks): an
    // eval document that shares a near-dup fingerprint with ANY train
    // document leaks training signal into the metric. Same split
    // assignment as text_train_split (pure function of doc_id) and the
    // same leading-8-token fingerprint as the overlap radar; report =
    // per eval split, how many docs are leaked and the rate. The train
    // fingerprint set is distinct-on-fp (one shuffle) and the leak join
    // is fp-co-partitioned — hash-partitionable at any corpus size;
    // output is 2 rows.
    "text_split_leakage" -> ((s, d) => {
      val h = substring(md5(concat(lit("split|"),
        col("doc_id").cast("string"))), 1, 4)
      val sp = when(h < "e666", "train").when(h < "f333", "val")
        .otherwise("test")
      val fp = md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8)))
      val docs = TextAnalysis.docsPar(s, d)
        .select(fp.as("fp"), sp.as("split"))
        .transform(graft.CachePool.persist) // train-fp pass + leak pass
      val trainFp = docs.filter(col("split") === "train")
        .select("fp").distinct().withColumn("leak", lit(1L))
      docs.filter(col("split") =!= "train")
        .join(trainFp, Seq("fp"), "left")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("leak"), lit(0L))).as("n_leaked"))
        .withColumn("leak_rate",
          col("n_leaked").cast("double") / col("n_docs").cast("double"))
    }),

    // Dedup ROI in BYTES: per source, how many characters a keep-first
    // near-dup pass (leading-8-token fingerprint groups, keeper = min
    // doc_id) would delete — the line item that justifies the dedup
    // compute budget. Two hash aggregations, keeper join co-partitioned
    // on the fingerprint.
    "text_dedup_savings" -> ((s, d) => {
      val fp = md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8)))
      val docs = TextAnalysis.docsPar(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"), fp.as("fp"))
      val keeper = docs.groupBy("fp").agg(min("doc_id").as("keep_id"))
      docs.join(keeper, "fp")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L))
            .as("n_redundant"),
          sum(when(col("doc_id") =!= col("keep_id"), col("n_chars"))
            .otherwise(0L)).as("redundant_chars"))
        .withColumn("savings_share",
          col("redundant_chars").cast("double") /
            col("total_chars").cast("double"))
    }),

    // Exact integer numerators throughout: safe while 4·m² < 2⁶³, i.e.
    // m ≲ 1.5e9 overlap edges — beyond that, shard the group census and
    // widen to decimal(38,0) (the ann_covariance_sharded convention).
    "text_source_modularity" -> ((s, d) => {
      val fp = md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8)))
      val gs = TextAnalysis.docsPar(s, d)
        .select(fp.as("fp"), col("source"))
        .groupBy("fp", "source").agg(count(lit(1)).as("n_gc"))
        .transform(graft.CachePool.persist) // group-total pass + per-source pass
      val gTot = gs.groupBy("fp").agg(sum("n_gc").as("n_g"))
      val perSource = gs.join(gTot, "fp") // co-partitioned on fp
        .groupBy("source")
        .agg(sum("n_gc").as("n_docs"),
          sum(expr("n_gc * (n_gc - 1) div 2")).as("in_edges"),
          sum(expr("n_gc * (n_g - 1)")).as("deg_sum"))
      val m = gTot
        .agg(sum(expr("n_g * (n_g - 1) div 2")).as("m_edges"))
        .withColumn("__k", lit(1))
      perSource.withColumn("__k", lit(1)).join(broadcast(m), "__k")
        .select(col("source"), col("n_docs"), col("in_edges"),
          col("deg_sum"), col("m_edges"),
          when(col("m_edges") === 0L, lit(null).cast("double"))
            .otherwise(
              (lit(4L) * col("m_edges") * col("in_edges") -
                col("deg_sum") * col("deg_sum")).cast("double") /
                (lit(4L) * col("m_edges") * col("m_edges")).cast("double"))
            .as("q_contrib"))
    }),

    "text_source_temperature" -> ((s, d) => {
      val counts = TextAnalysis.docsPar(s, d)
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("q",
          floor(sqrt(col("n_docs").cast("double")) * GRID).cast("long"))
      val tot = counts.agg(sum("q").as("total_q"))
      counts.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"),
          (col("q").cast("double") / col("total_q").cast("double"))
            .as("weight"),
          // integer quota out of 10k sampled docs — exact on any engine
          expr("(q * 10000) div total_q").as("quota_per_10k"))
    }),

    "text_length_histogram" -> ((s, d) => {
      val docs = TextAnalysis.docsPar(s, d)
        .select(expr("(n_chars div 100) * 100").as("bucket_lo"), col("n_chars"))
      val tot = docs.agg(count(lit(1)).as("total_docs"))
      docs.groupBy("bucket_lo")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("bucket_chars"))
        .crossJoin(broadcast(tot))
        .select(col("bucket_lo"), col("n_docs"), col("bucket_chars"),
          (col("n_docs").cast("double") / col("total_docs").cast("double"))
            .as("share"))
    }),

    "text_export_shuffle" -> ((s, d) => {
      TextAnalysis.docsPar(s, d)
        .select(col("doc_id"),
          md5(concat(lit(SEED), col("doc_id").cast("string"))).as("sort_key"))
        .withColumn("shard", substring(col("sort_key"), 1, 1))
        .orderBy("sort_key")
        .limit(50)
    }),

    // Per-source document cap (RefinedWeb-style domain capping): no
    // source keeps more than DOMAIN_CAP documents, the kept set chosen
    // by seeded-hash priority — a uniform random subset that is a pure
    // function of doc_id, reproducible under replay and shard order.
    // Scale shape: totals are one hash agg; the kept side is a per-
    // source top-k by hash — RankLimitRewrite turns the rn ≤ CAP filter
    // into TopKPerKey (per-partition CAP-row heaps prune before the
    // exchange), so a 10⁹-doc source ships CAP rows, never its full
    // sorted id list. The two aggregates join on source (O(sources)
    // rows, broadcast). Contrast with text_source_sample (rate-based
    // thinning) and text_source_temperature (weight curve): the cap is
    // the hard-ceiling variant every web-crawl pipeline also needs.
    "text_domain_cap" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val hv = conv(substring(
        md5(concat(lit("cap|"), col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long")
      val docs = TextAnalysis.docsPar(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"), hv.as("hv"))
      val totals = docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("total_chars"))
      val w = Window.partitionBy("source").orderBy(col("hv"), col("doc_id"))
      val kept = docs.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= DOMAIN_CAP)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          sum("n_chars").cast("long").as("kept_chars"))
      totals.join(broadcast(kept), "source")
        .select(col("source"), col("n_docs"), col("n_kept"),
          (col("n_docs") - col("n_kept")).as("n_dropped"),
          col("total_chars"), col("kept_chars"))
    })
  )

  val oracles: Map[String, String] = Map(
    // the 'g' flag matches Spark's replace-all regexp_replace semantics
    "text_redact_ids" ->
      """WITH m AS (SELECT c_mktsegment, c_name,
        |    regexp_replace(c_name, '[0-9]{5,}', '*', 'g') AS redacted
        |  FROM customer)
        |SELECT c_mktsegment, COUNT(*) AS n_names,
        |  CAST(SUM(CASE WHEN c_name <> redacted THEN 1 ELSE 0 END) AS BIGINT) AS n_with_ids,
        |  CAST(SUM(length(c_name) - length(redacted)) AS BIGINT) AS n_chars_masked,
        |  COUNT(DISTINCT redacted) AS n_distinct_redacted
        |FROM m GROUP BY c_mktsegment""".stripMargin,
    "text_cross_source_dups" ->
      """WITH fps AS (SELECT DISTINCT
        |    md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp,
        |    source
        |  FROM documents)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  COUNT(*) AS n_shared
        |FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,
    "text_split_leakage" ->
      """WITH docs AS (SELECT
        |    md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp,
        |    CASE WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4)
        |           < 'e666' THEN 'train'
        |         WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4)
        |           < 'f333' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |tf AS (SELECT DISTINCT fp FROM docs WHERE split = 'train')
        |SELECT split, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN tf.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_leaked,
        |  CAST(SUM(CASE WHEN tf.fp IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS leak_rate
        |FROM docs LEFT JOIN tf ON docs.fp = tf.fp
        |WHERE split <> 'train' GROUP BY split""".stripMargin,
    "text_dedup_savings" ->
      """WITH docs AS (SELECT doc_id, source, n_chars,
        |    md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp
        |  FROM documents),
        |k AS (SELECT fp, MIN(doc_id) AS keep_id FROM docs GROUP BY 1)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_redundant,
        |  CAST(SUM(CASE WHEN doc_id <> keep_id THEN n_chars ELSE 0 END)
        |    AS BIGINT) AS redundant_chars,
        |  CAST(SUM(CASE WHEN doc_id <> keep_id THEN n_chars ELSE 0 END)
        |      AS DOUBLE) / CAST(SUM(n_chars) AS DOUBLE) AS savings_share
        |FROM docs JOIN k USING (fp) GROUP BY source""".stripMargin,
    "text_source_modularity" ->
      """WITH fps AS (SELECT
        |    md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp,
        |    source
        |  FROM documents),
        |gs AS (SELECT fp, source, COUNT(*) AS n_gc FROM fps GROUP BY 1, 2),
        |gt AS (SELECT fp, CAST(SUM(n_gc) AS BIGINT) AS n_g FROM gs GROUP BY 1),
        |ps AS (SELECT source, CAST(SUM(n_gc) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_gc * (n_gc - 1) // 2) AS BIGINT) AS in_edges,
        |    CAST(SUM(n_gc * (n_g - 1)) AS BIGINT) AS deg_sum
        |  FROM gs JOIN gt USING (fp) GROUP BY 1),
        |m AS (SELECT CAST(SUM(n_g * (n_g - 1) // 2) AS BIGINT) AS m_edges
        |  FROM gt)
        |SELECT source, n_docs, in_edges, deg_sum, m_edges,
        |  CASE WHEN m_edges = 0 THEN NULL
        |    ELSE CAST(4 * m_edges * in_edges - deg_sum * deg_sum AS DOUBLE)
        |      / CAST(4 * m_edges * m_edges AS DOUBLE) END AS q_contrib
        |FROM ps, m""".stripMargin,
    "text_source_temperature" ->
      s"""WITH c AS (SELECT source, COUNT(*) AS n_docs,
         |    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * $GRID) AS BIGINT) AS q
         |  FROM documents GROUP BY source),
         |t AS (SELECT CAST(SUM(q) AS BIGINT) AS total_q FROM c)
         |SELECT source, n_docs,
         |  CAST(q AS DOUBLE) / CAST(total_q AS DOUBLE) AS weight,
         |  (q * 10000) // total_q AS quota_per_10k
         |FROM c, t""".stripMargin,
    "text_length_histogram" ->
      """WITH d AS (SELECT (n_chars // 100) * 100 AS bucket_lo, n_chars FROM documents),
        |t AS (SELECT COUNT(*) AS total_docs FROM d)
        |SELECT bucket_lo, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS bucket_chars,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(total_docs AS DOUBLE) AS share
        |FROM d, t GROUP BY bucket_lo, total_docs""".stripMargin,
    "text_export_shuffle" ->
      s"""SELECT doc_id,
         |  md5('$SEED' || CAST(doc_id AS VARCHAR)) AS sort_key,
         |  substr(md5('$SEED' || CAST(doc_id AS VARCHAR)), 1, 1) AS shard
         |FROM documents
         |ORDER BY sort_key LIMIT 50""".stripMargin,
    "text_domain_cap" ->
      s"""WITH d AS (SELECT doc_id, source, n_chars,
         |    ('0x' || substr(md5('cap|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |      AS hv
         |  FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source
         |    ORDER BY hv, doc_id) AS rn FROM d),
         |t AS (SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM d GROUP BY source),
         |k AS (SELECT source, COUNT(*) AS n_kept,
         |    CAST(SUM(n_chars) AS BIGINT) AS kept_chars
         |  FROM r WHERE rn <= $DOMAIN_CAP GROUP BY source)
         |SELECT source, n_docs, n_kept, n_docs - n_kept AS n_dropped,
         |  total_chars, kept_chars
         |FROM t JOIN k USING (source)""".stripMargin
  )
}
