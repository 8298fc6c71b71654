package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{GraftExtensions, GraftFunctions, VectorOps}
import graft.sources.Tables

/** Training-data deduplication over `documents` / `embeddings` — the
  * LLM-pipeline operator family (north star), each with a DuckDB oracle
  * implementing the *same* algorithm so results match exactly.
  *
  * Portability rule: every hash is built from md5 hex strings (identical
  * in any engine) and minima are taken lexicographically on those
  * strings, so no engine-specific 64-bit hash is ever needed.
  *
  * Scale design (100 TB):
  *  - Signature computation (minhash/simhash/fingerprints) is a pure
  *    per-row projection — no shuffle, embarrassingly parallel.
  *  - Candidate generation shuffles on band-key / shingle / bucket: the
  *    classic LSH MapReduce shape, O(candidates) not O(n²).
  *  - Hot shingles are capped by document frequency before the self-join
  *    (`DF_CAP`) — the standard skew guard: without it one stop-shingle
  *    produces a quadratic join island.
  *  - Only `dedup_embedding_cosine` is brute-force O(n²); its scale path
  *    is the IVF/LSH blocking shown in Similarity (ann_ivf/ann_lsh).
  */
object Dedup {

  private val DF_CAP = 50       // max doc-frequency for a shingle to be a join key
  private val MIN_SHARED = 3    // candidate pairs must share ≥ this many shingles
  private val CONTAINMENT_T = 0.8 // |A∩B|/|A| threshold: A is "inside" B
  private val MINHASH_SEEDS = 8 // signature length
  private val BANDS = 4         // LSH bands (2 sigs per band)
  private val JACCARD_NEAR = 0.5
  private val JACCARD_RELATED = 0.1
  private val COSINE_NEAR = 0.45
  private val SIMHASH_HAMMING = 3
  private val SIMHASH_BITS = 64
  // Banded blocking for the simhash pair search: split the fingerprint
  // into SIMHASH_SEGS equal segments. Pigeonhole: ≤ SIMHASH_HAMMING
  // differing bits touch ≤ SIMHASH_HAMMING segments, so any qualifying
  // pair agrees on ≥ SEGS − HAMMING ≥ 1 whole segment (requires
  // SEGS > HAMMING, asserted below) — an equi-join on (segment index,
  // segment value) finds every pair the all-pairs scan would.
  // 64 bits / 4 segments of 16 is the classic multi-index configuration
  // (Manku et al., WWW'07): 65,536 distinct values PER segment, so the
  // equi-join key space is 4·65k — real blocking, where the earlier
  // 16-bit/4-bit layout had only 4·16 = 64 keys (each bucket held n/16
  // of the corpus: still quadratic, just with a smaller constant).
  private val SIMHASH_SEGS = 4
  private val SIMHASH_SEG_BITS = SIMHASH_BITS / SIMHASH_SEGS
  require(SIMHASH_SEGS > SIMHASH_HAMMING, "pigeonhole needs segs > hamming")

  private val EMB_LSH_DIMS = Seq(1, 9, 17, 25, 33, 41, 49, 57) // 1-based dims
  private val N_BENCH = 20      // doc_id < 20 plays the benchmark set
  private val CONTAIN_MIN = 0.4 // containment threshold for a leak flag

  private def words: Column = split(col("text"), " ")

  /** Distinct word n-gram shingles (0-based Spark ≡ 1-based DuckDB). */
  private def shingleCol(n: Int): Column =
    array_distinct(transform(
      sequence(lit(0), size(words) - lit(n)),
      i => concat_ws(" ", (0 until n).map(k => words(i + lit(k))): _*)))

  private def shingleSql(n: Int): String = {
    val parts = (0 until n).map(k => s"w[i+$k]").mkString(" || ' ' || ")
    s"list_distinct(list_transform(range(1, len(w) - ${n - 2}), i -> $parts))"
  }

  /** docs → (doc_id, sh: distinct 3-gram shingles). Persisted: the
    * shingle arrays feed signature generation AND both sides of the
    * candidate self-join AND the verify joins — caching computes the
    * (HOF-interpreted) md5/shingle pipeline once instead of 4-5×. The
    * cached relation is O(docs × shingle bytes), far smaller than the
    * pair space it prevents recomputing.
    */
  private def docShingles(s: SparkSession, d: String): DataFrame = {
    // NOTE: identical analyzed plans share cache entries via Spark's
    // CacheManager, so sequential dedup queries in one session reuse
    // this persist instead of recomputing the shingle pipeline.
    Tables.documents(s, d)
      // project to the two consumed columns BEFORE the (gated) spread —
      // when the exchange exists it moves (doc_id, text), never the
      // lang/source/n_chars payload (guide §2.3: project before the
      // exchange)
      .select(col("doc_id"), col("text"))
      .transform(Tables.spread(_, col("doc_id")))
      .filter(size(words) >= 3)
      .select(col("doc_id"), shingleCol(3).as("sh"))
      .transform(graft.CachePool.persist)
  }

  private val docShinglesSql =
    s"""SELECT doc_id, ${shingleSql(3).replace("w", "string_split(text,' ')")} AS sh
       |  FROM documents WHERE len(string_split(text,' ')) >= 3""".stripMargin

  /** |A∩B| — the codegen hash-probe kernel (ArrayIntersectSize), whose
    * semantics are exactly `size(filter(a, x -> array_contains(b, x)))`:
    * identical in both engines given already-distinct inputs (no
    * reliance on engine dedup order), but O(|a|+|b|) instead of the
    * interpreted HOF's O(|a|·|b|) per verified pair.
    */
  private def interSize(a: Column, b: Column): Column =
    GraftFunctions.arrayIntersectSize(a, b)

  /** (doc_id, band_key) LSH postings, persisted for reuse across the
    * self-join (resp. bipartite probe) sides.
    *
    * Signatures as codegen'd min-aggregations over the posting list
    * (explode → groupBy) with mutable long buffers. TWO md5 calls per
    * posting (not one per seed): each 32-hex digest is cut into four
    * 32-bit slices, giving 8 INDEPENDENT uniform seed hashes — full
    * inter-band independence (an earlier xor-remix of one digest
    * correlated bands 0/2 and 1/3, silently lowering recall) at a
    * quarter of the round-1 hashing cost.
    */
  private def minhashBands(sh: DataFrame, cache: Boolean = true): DataFrame = {
    val m1 = md5(col("g"))
    val m2 = md5(concat(lit("#"), col("g")))
    def h(seed: Int): Column =
      conv(substring(if (seed < 4) m1 else m2, 8 * (seed % 4) + 1, 8), 16, 10)
        .cast("long")
    val posting = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    val sig = posting.groupBy("doc_id").agg(
      min(h(0)).as("sig0"),
      (1 until MINHASH_SEEDS).map(sd => min(h(sd)).as(s"sig$sd")): _*)
    val bands = sig.select(col("doc_id"),
      explode(array((0 until BANDS).map(b =>
        concat_ws("|", lit(s"$b"), col(s"sig${2 * b}").cast("string"),
          col(s"sig${2 * b + 1}").cast("string"))): _*)).as("band_key"))
    if (cache) bands.transform(graft.CachePool.persist) else bands
  }

  /** Streaming-ingestion entry point: near-dups (jaccard ≥ τ_near) of an
    * incoming `(doc_id, text)` batch against a standing corpus, exposed
    * for `foreachBatch` use — each microbatch is one incremental
    * snapshot run through the bipartite band probe. The corpus band
    * postings are recomputed here because this API is stateless; a
    * production ingestion pipeline persists them (bucketed BY band_key)
    * and passes the same DataFrames in, at which point a microbatch
    * costs O(batch) signatures + a pruned probe join. Output:
    * (doc_a: corpus id, doc_b: batch id, jaccard).
    */
  def incrementalMatches(corpus: DataFrame, batchDocs: DataFrame): DataFrame = {
    GraftExtensions.install(corpus.sparkSession)
    val corpusSh = corpus.filter(size(words) >= 3)
      .select(col("doc_id"), shingleCol(3).as("sh"))
    val batchSh = batchDocs.filter(size(words) >= 3)
      .select(col("doc_id"), shingleCol(3).as("sh"))
    // corpus side: cached — identical analyzed plans across microbatches
    // share ONE CacheManager entry, so the standing index persists once.
    // batch side: NOT cached — each microbatch has a fresh plan, and a
    // per-batch persist would accumulate a new cache entry per batch for
    // bands that are consumed exactly once (the probe join).
    val cand = minhashBands(corpusSh).as("a")
      .join(minhashBands(batchSh, cache = false).as("b"),
        col("a.band_key") === col("b.band_key"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyPairs(cand, corpusSh.unionByName(batchSh), JACCARD_NEAR)
  }

  private def jaccard(a: Column, b: Column): Column = {
    val i = interSize(a, b)
    i.cast("double") / (size(a) + size(b) - i)
  }

  private val jaccardSql =
    """CAST(len(list_filter(da.sh, x -> list_contains(db.sh, x))) AS DOUBLE)
      | / (len(da.sh) + len(db.sh) - len(list_filter(da.sh, x -> list_contains(db.sh, x))))""".stripMargin

  /** Directed-containment pair engine over a (doc_id, sh) shingle
    * relation: emits (contained_doc, container_doc, containment) for
    * every candidate pair direction with |A∩B| / |A| ≥ CONTAINMENT_T.
    * Candidates come from the same rare-shingle inverted index as
    * dedup_ngram_jaccard (identical analyzed plan ⇒ the CacheManager
    * shares the posting relation across the family); the exact verify
    * divides ONE integer intersection by each side's own set size, so
    * a pair costs one kernel call, not two. Exposed for synthetic-
    * corpus testing; the named query runs it on the documents table.
    */
  private[graft] def containmentPairs(sh: DataFrame): DataFrame = {
    val posting = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    val rare = posting.groupBy("g")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= DF_CAP)
      .select("g")
    val rarePosting = posting.join(rare, "g")
    val cand = rarePosting.as("a")
      .join(rarePosting.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MIN_SHARED)
      .select("doc_a", "doc_b")
    val j = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter", interSize(col("sh_a"), col("sh_b")))
      .transform(graft.CachePool.persist) // both directions read it
    val ab = j.select(col("doc_a").as("contained_doc"),
      col("doc_b").as("container_doc"),
      (col("inter").cast("double") / size(col("sh_a"))).as("containment"))
    val ba = j.select(col("doc_b").as("contained_doc"),
      col("doc_a").as("container_doc"),
      (col("inter").cast("double") / size(col("sh_b"))).as("containment"))
    ab.unionByName(ba).filter(col("containment") >= CONTAINMENT_T)
  }

  /** Verify candidate pairs against true jaccard of full shingle sets. */
  private def verifyPairs(cand: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components by min-label propagation with a pointer-
    * jumping shortcut. Returns (labels, rounds): one row per doc with
    * `cluster_id` = min doc_id reachable in the undirected pair graph.
    *
    * Each round does two joins:
    *  1. neighbor step — label(u) ← min(label(u), min over neighbors'
    *     labels): the Pregel/GraphX propagation shape, one shuffle join;
    *  2. shortcut step (pointer jumping, the Shiloach–Vishkin move the
    *     large-star/small-star MapReduce CC algorithms build on) —
    *     label(u) ← label(label(u)). A label is always a doc id, so the
    *     step is a self-join of the label table; it doubles the distance
    *     information travels, cutting rounds on a diameter-D chain from
    *     O(D) to O(log D) at the cost of one extra shuffle per round —
    *     the right trade at scale, where each driver-synchronized round
    *     pays a full stage barrier.
    *
    * Convergence probe: labels only ever DECREASE (both steps take
    * minima), so the label sum is strictly monotone until the fixpoint —
    * sum unchanged ⇔ no label changed. One aggregation per round on the
    * freshly persisted labels, no diff join.
    *
    * `shortcut = false` recovers plain propagation (kept for the spec
    * that proves the shortcut reduces rounds without changing output).
    */
  /** Shared cluster assignment per pair-kind: three queries consume the
    * label-propagation fixpoint (`dedup_clusters`,
    * `dedup_simhash_clusters`, `dedup_keep_canonical`) and the loop's
    * collects are the expensive part — run it once per release window.
    * The stored DataFrame is backed by localCheckpoint'ed RDDs.
    */
  private def componentsFor(s: SparkSession, d: String, kind: String,
      pairsOf: (SparkSession, String) => DataFrame): DataFrame =
    graft.CachePool.shared(s, d, s"dedup_components/$kind") {
      val pairs = pairsOf(s, d)
      val docs = Tables.documents(s, d).select(col("doc_id"))
      connectedComponents(docs,
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))._1
    }

  private[graft] def connectedComponents(docs: DataFrame, pairs: DataFrame,
      shortcut: Boolean = true): (DataFrame, Int) = {
    val edges = pairs
      .unionByName(pairs.select(col("dst").as("src"), col("src").as("dst")))
      .transform(graft.CachePool.persist)
    // Labels are localCheckpoint'ed (eager), not merely persisted: each
    // round's plan references the previous round's labels TWICE (the
    // propagation join, and the shortcut self-join), so without lineage
    // truncation the logical plan TREE doubles per round — O(2^rounds)
    // analysis/explain cost that OOMs the driver near round ~30 even
    // though the data is tiny. Checkpointing resets the plan to a leaf;
    // per-round cost becomes O(1). Superseded checkpoints are freed by
    // the ContextCleaner once unreferenced.
    var labels = docs.withColumn("cluster_id", col("doc_id"))
      .localCheckpoint()
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(col("cluster_id").cast("decimal(38,0)"))).head.getDecimal(0)
      // SUM over zero rows is NULL — an empty corpus must converge
      // immediately, not NPE in the comparison below
      if (s == null) java.math.BigDecimal.ZERO else s
    }
    var prevSum = labelSum(labels)
    var changed = true
    var rounds = 0
    val maxRounds = 1000 // runaway guard only — convergence is checked below
    while (changed && rounds < maxRounds) {
      val prop = edges
        .join(labels.select(col("doc_id").as("src"), col("cluster_id").as("src_label")), "src")
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("src_label")).as("nbr_label"))
      val stepped = labels.join(prop, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("nbr_label"), col("cluster_id")))
            .as("cluster_id"))
      val next = (if (!shortcut) stepped else {
        // label(label(u)): left join is defensive — every label IS a
        // doc_id present in `stepped`, but a dropped row must surface
        // as a non-converging sum, not silently vanish
        val parents = stepped
          .select(col("doc_id").as("p_id"), col("cluster_id").as("p_label"))
        stepped.join(parents, col("cluster_id") === col("p_id"), "left")
          .select(col("doc_id"),
            least(col("cluster_id"), coalesce(col("p_label"), col("cluster_id")))
              .as("cluster_id"))
      }).localCheckpoint()
      val nextSum = labelSum(next)
      changed = nextSum.compareTo(prevSum) != 0
      prevSum = nextSum
      labels = next // previous round's checkpoint is now unreferenced
      rounds += 1
    }
    // wrong labels must never be returned silently: a component with
    // diameter > maxRounds is a bug to surface, not truncate
    if (changed) throw new IllegalStateException(
      s"label propagation did not converge in $maxRounds rounds")
    edges.unpersist() // labels are materialized; the edge cache is dead
    (labels, rounds)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: hash-groupBy on a normalized-text fingerprint. One
    // shuffle of (hash, id) pairs; payload never moves.
    "dedup_exact" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(md5(lower(trim(col("text")))).as("fingerprint"))
        .agg(min(col("doc_id")).as("canonical_id"),
          count(lit(1)).as("n_copies"))
    }),

    // Exact dedup KEEPING THE BEST COPY: real pipelines don't keep the
    // minimum doc_id among duplicates, they keep the highest-quality
    // one. Shares TextAnalysis's quality formula (one definition, both
    // engines); argmax per fingerprint is the row_number → TopKPerKey
    // form — per-partition 1-row heaps, no sort, O(distinct) exchange.
    "dedup_exact_keep_best" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("fingerprint")
        .orderBy(col("quality_score").desc, col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(lower(trim(col("text")))).as("fingerprint"),
          TextAnalysis.qualityScore.as("quality_score"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("fingerprint", "doc_id", "quality_score")
    }),

    // MinHash + LSH banding: per-row signatures → band-key self-join →
    // exact jaccard verify. The full shingle→minhash→band→bucket-join
    // pipeline.
    "dedup_minhash_lsh" -> ((s, d) => {
      val sh = docShingles(s, d)
      val bands = minhashBands(sh)
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.band_key") === col("b.band_key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      verifyPairs(cand, sh, JACCARD_NEAR)
    }),

    // MinHash estimator CALIBRATION — the sketch-quality audit for the
    // LSH tier: per matching-component count k, how far the signature
    // estimate k/8 sits from exact Jaccard on the band-candidate pairs.
    // E[matches/8] = J(a,b) is the MinHash theorem; this MEASURES the
    // 8-component variance on this corpus (the number that justifies —
    // or indicts — the signature length, the same measured-not-assumed
    // convention as the recall queries). Same hash family and the same
    // shared shingle/band postings as dedup_minhash_lsh; report is
    // O(MINHASH_SEEDS+1) rows; double means re-quantize through the
    // 2^30 grid so partial-agg order can't shift a bit.
    "dedup_minhash_error" -> ((s, d) => {
      val Q = 1073741824.0 // 2^30
      val sh = docShingles(s, d)
      val m1 = md5(col("g"))
      val m2 = md5(concat(lit("#"), col("g")))
      def h(seed: Int): Column =
        conv(substring(if (seed < 4) m1 else m2, 8 * (seed % 4) + 1, 8), 16, 10)
          .cast("long")
      val posting = sh.select(col("doc_id"), explode(col("sh")).as("g"))
      val sig = posting.groupBy("doc_id").agg(
        min(h(0)).as("sig0"),
        (1 until MINHASH_SEEDS).map(sd => min(h(sd)).as(s"sig$sd")): _*)
      val bands = minhashBands(sh)
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.band_key") === col("b.band_key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val sa = sig.toDF("doc_a" +: (0 until MINHASH_SEEDS).map(i => s"a$i"): _*)
      val sb = sig.toDF("doc_b" +: (0 until MINHASH_SEEDS).map(i => s"b$i"): _*)
      val nMatch = (0 until MINHASH_SEEDS)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
        .reduce(_ + _)
      cand
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
        .join(sa, "doc_a").join(sb, "doc_b")
        .select(nMatch.as("n_match"),
          jaccard(col("sh_a"), col("sh_b")).as("j"))
        .groupBy("n_match")
        .agg(count(lit(1)).as("n_pairs"),
          (sum(floor(col("j") * Q + 0.5)).cast("double") / Q /
            count(lit(1)).cast("double")).as("mean_jaccard"),
          (sum(floor(abs(col("n_match").cast("double") /
            lit(MINHASH_SEEDS.toDouble) - col("j")) * Q + 0.5)).cast("double") /
            Q / count(lit(1)).cast("double")).as("mean_abs_err"))
        .select(col("n_match"), col("n_pairs"),
          (col("n_match").cast("double") / lit(MINHASH_SEEDS.toDouble))
            .as("estimate"),
          col("mean_jaccard"), col("mean_abs_err"))
    }),

    // b-bit minhash (Li & König 2010, "b-Bit Minwise Hashing"): store
    // only the LOWEST b bits of each signature component and correct
    // the match rate for accidental low-bit collisions —
    // Ĵ = (m/k − 2⁻ᵇ)/(1 − 2⁻ᵇ). The published result is that at
    // b=1..2 the variance penalty is small while storage drops 16-32×,
    // and this query MEASURES that tradeoff on this corpus: per b ∈
    // {1,2,4,8,16,32}, the mean |Ĵ−J| over the banded candidate pairs
    // against exact Jaccard (32 = the full component width = the
    // uncorrected dedup_minhash_error baseline). All six estimators
    // read the SAME joined pair relation in ONE aggregate (six
    // conditional sums), unpivoted by stack(); 2⁻ᵇ and 1−2⁻ᵇ are
    // exactly-representable doubles embedded as round-trip literals in
    // both engines, and the error sum is floor-quantized at 2³⁰ (the
    // family convention) so the aggregation order cannot matter.
    "dedup_minhash_bbit" -> ((s, d) => {
      val Q = 1073741824.0 // 2^30
      val sh = docShingles(s, d)
      val m1 = md5(col("g"))
      val m2 = md5(concat(lit("#"), col("g")))
      def h(seed: Int): Column =
        conv(substring(if (seed < 4) m1 else m2, 8 * (seed % 4) + 1, 8), 16, 10)
          .cast("long")
      val posting = sh.select(col("doc_id"), explode(col("sh")).as("g"))
      val sig = posting.groupBy("doc_id").agg(
        min(h(0)).as("sig0"),
        (1 until MINHASH_SEEDS).map(sd => min(h(sd)).as(s"sig$sd")): _*)
      val bands = minhashBands(sh)
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.band_key") === col("b.band_key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val sa = sig.toDF("doc_a" +: (0 until MINHASH_SEEDS).map(i => s"a$i"): _*)
      val sb = sig.toDF("doc_b" +: (0 until MINHASH_SEEDS).map(i => s"b$i"): _*)
      val joined = cand
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
        .join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("j", jaccard(col("sh_a"), col("sh_b")))
      val bs = Seq(1, 2, 4, 8, 16, 32)
      val errCols = bs.map { b =>
        val mod = 1L << b
        val c = 1.0 / mod.toDouble
        val m = (0 until MINHASH_SEEDS).map(i =>
          when(col(s"a$i") % mod === col(s"b$i") % mod, 1).otherwise(0))
          .reduce(_ + _)
        val est = (m.cast("double") / lit(MINHASH_SEEDS.toDouble) - lit(c)) /
          lit(1.0 - c)
        sum(floor(abs(est - col("j")) * Q + 0.5)).cast("long").as(s"e$b")
      }
      joined.agg(count(lit(1)).as("n_pairs"), errCols: _*)
        .selectExpr(s"stack(${bs.length}, " +
          bs.map(b => s"$b, n_pairs, e$b").mkString(", ") +
          ") AS (bits, n_pairs, errq)")
        .select(col("bits").cast("int").as("bits"),
          (col("bits") * lit(MINHASH_SEEDS)).cast("int").as("sig_bits_per_doc"),
          col("n_pairs"),
          (col("errq").cast("double") / Q / col("n_pairs").cast("double"))
            .as("mean_abs_err"))
    }),

    // INCREMENTAL near-dedup: a new snapshot against the standing
    // corpus — the pattern that makes dedup sustainable at 100 TB.
    // Re-running the full self-join per snapshot is O(corpus²-ish);
    // the incremental form is bipartite: only the incoming batch
    // computes fresh signatures, the corpus band postings are the
    // standing index (built once per corpus version — here rebuilt
    // because a query is stateless, in production persisted bucketed
    // BY band_key so the probe join is shuffle-free on the corpus
    // side), and the exact-jaccard verify touches only candidates.
    // The batch membership is a pure function of doc_id (salted-md5
    // threshold, the text_train_split convention) so both engines
    // agree on the split without any state.
    "dedup_incremental" -> ((s, d) => {
      val sh = docShingles(s, d)
      val bands = minhashBands(sh)
      val incomingSide = substring(md5(col("doc_id").cast("string")), 1, 1)
        .isin("0", "1", "2")
      val corpusBands = bands.filter(!incomingSide)
      val incomingBands = bands.filter(incomingSide)
      val cand = corpusBands.as("a")
        .join(incomingBands.as("b"), col("a.band_key") === col("b.band_key"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      verifyPairs(cand, sh, JACCARD_NEAR)
    }),

    // Inverted-index n-gram jaccard: candidates share ≥ MIN_SHARED rare
    // shingles (doc-frequency cap kills quadratic skew; the shared-count
    // floor prunes the candidate set before the expensive exact verify —
    // counting co-occurrences is one cheap aggregation, and any pair at
    // jaccard ≥ τ on ~50-shingle docs shares far more than 3 shingles).
    "dedup_ngram_jaccard" -> ((s, d) => {
      val sh = docShingles(s, d)
      val posting = sh.select(col("doc_id"), explode(col("sh")).as("g"))
      val rare = posting.groupBy("g")
        .agg(count(lit(1)).as("df"))
        .filter(col("df") <= DF_CAP)
        .select("g")
      val rarePosting = posting.join(rare, "g")
      val cand = rarePosting.as("a")
        .join(rarePosting.as("b"),
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= MIN_SHARED)
        .select("doc_a", "doc_b")
      // r17: the verified pair set is the family's ground-truth relation
      // — dedup_pair_triangles, dedup_lsh_recall and
      // dedup_lexical_semantic_overlap all re-derive it via this entry,
      // and the CacheManager serves their identical analyzed subtree
      // from this one persisted copy (O(pairs) rows, released with the
      // family window) instead of re-running the posting self-join per
      // consumer.
      verifyPairs(cand, sh, JACCARD_RELATED)
        .transform(graft.CachePool.persist)
    }),

    // Triangle census + global transitivity of the near-dup pair graph —
    // the cluster-cohesion health check: high transitivity means the
    // pair set closes into tight cliques (true duplicate families), low
    // transitivity means chains of borderline matches (threshold too
    // loose, clusters will over-merge). All counts are integers; the
    // one double op is the final 3T/W division. Scale: the near-dup
    // graph is SPARSE by construction (that is the whole point of the
    // candidate pruning), so the edge-edge join is bounded by Σdeg² —
    // the same wedge budget the transitivity denominator measures; the
    // canonical doc_a < doc_b orientation means each triangle is
    // counted exactly once (a<b<c) with no orientation dedup pass.
    "dedup_pair_triangles" -> ((s, d) => {
      val pairs = graft.CachePool.persist(
        queries("dedup_ngram_jaccard")(s, d)
          .filter(col("jaccard") >= JACCARD_NEAR)
          .select("doc_a", "doc_b"))
      val deg = pairs.select(col("doc_a").as("n"))
        .unionByName(pairs.select(col("doc_b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      val wedges = deg.agg(sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
      val edges = pairs.agg(count(lit(1)).as("n_edges"))
      val tri = pairs.as("e1")
        .join(pairs.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
        .join(pairs.as("e3"),
          col("e3.doc_a") === col("e1.doc_a") && col("e3.doc_b") === col("e2.doc_b"))
        .agg(count(lit(1)).as("n_triangles"))
      edges.crossJoin(broadcast(wedges)).crossJoin(broadcast(tri))
        .withColumn("transitivity",
          when(col("n_wedges") === 0L, lit(null).cast("double"))
            .otherwise(lit(3.0) * col("n_triangles").cast("double") /
              col("n_wedges").cast("double")))
    }),

    // DIRECTED containment |A∩B| / |A| ≥ τ — the near-superset detector
    // jaccard misses: a short doc quoted whole inside a much longer one
    // has tiny jaccard (union is dominated by B) but containment ≈ 1.
    // Training pipelines drop the contained copy; MinHash under-samples
    // it (asymmetric overlap), so this runs off the same rare-shingle
    // inverted index as dedup_ngram_jaccard — identical analyzed plan ⇒
    // the CacheManager shares the posting relation across the family —
    // and verifies candidates exactly, emitting BOTH directions of each
    // undirected candidate so a mutual near-dup appears twice (a,b ≥ τ
    // and b,a ≥ τ), which is the actionable form: `contained_doc` is
    // the drop candidate. The DF cap is the documented recall heuristic
    // shared with the jaccard query: a pair sharing ONLY stop-shingles
    // is invisible — identically in both engines.
    "dedup_containment" -> ((s, d) => containmentPairs(docShingles(s, d))),

    // EXACT set-similarity self-join via prefix filtering (Bayardo et
    // al. WWW'07 / Xiao et al. PPJoin): order each doc's shingles by
    // ascending global document frequency (rarest first; ties on the
    // shingle string — total order, since per-doc shingles are
    // distinct), keep only the first |d| − ⌈τ·|d|⌉ + 1 as join keys.
    // Prefix-filter theorem: any pair with jaccard ≥ τ must share at
    // least one token within BOTH prefixes — so unlike the LSH and
    // DF-capped candidate generators above, recall is 1.0 BY
    // CONSTRUCTION, not measured: this query's output IS the complete
    // pair set at τ = JACCARD_NEAR, computed without an all-pairs scan.
    // The length filter (2·min ≥ max ⟸ jaccard ≥ ½) prunes candidates
    // before the exact verify. Scale: the join keys are each doc's
    // RAREST shingles, so posting lists on the join key are short by
    // construction — the frequency ordering is itself the skew guard
    // (the DF_CAP heuristic above caps hot keys; prefix filtering
    // avoids ever emitting them). τ = 0.5 ⟹ prefix length
    // |d| − ⌈|d|/2⌉ + 1 = |d| div 2 + 1 (integer, engine-exact).
    "dedup_jaccard_prefix" -> ((s, d) => {
      val sh = docShingles(s, d)
      val posting = sh.select(col("doc_id"), explode(col("sh")).as("g"))
      val df = posting.groupBy("g").agg(count(lit(1)).as("df"))
      val ordered = posting.join(df, "g")
        .groupBy("doc_id")
        .agg(transform(sort_array(collect_list(struct(col("df"), col("g")))),
          x => x("g")).as("toks"))
      val prefix = ordered.select(col("doc_id"),
          size(col("toks")).as("len"),
          explode(slice(col("toks"), lit(1),
            shiftright(size(col("toks")), 1) + lit(1))).as("g"))
        .transform(graft.CachePool.persist)
      val cand = prefix.as("a").join(prefix.as("b"),
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id") &&
            least(col("a.len"), col("b.len")) * 2 >=
              greatest(col("a.len"), col("b.len")))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      verifyPairs(cand, sh, JACCARD_NEAR)
    }),

    // SimHash: 64-bit fingerprint from per-token md5 bits; near-dup =
    // small hamming distance. Signature is one groupBy over exploded
    // tokens (map-side combinable).
    "dedup_simhash" -> ((s, d) => simhashDf(s, d)),

    // All-pairs hamming scan — the oracle-of-intent baseline for the
    // banded scale path below (whitelisted in PlanAuditSpec as an
    // intentional pair scan; dedup_simhash_banded is the plan you run
    // at corpus scale).
    "dedup_simhash_pairs" -> ((s, d) => {
      val sh = simhashDf(s, d)
      val a = sh.select(col("doc_id").as("doc_a"), col("simhash").as("h_a"))
      val b = sh.select(col("doc_id").as("doc_b"), col("simhash").as("h_b"))
      a.join(b, col("doc_a") < col("doc_b"))
        .withColumn("hamming",
          expr("CAST(bit_count(h_a ^ h_b) AS INT)"))
        .filter(col("hamming") <= SIMHASH_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    }),

    // BLOCKED simhash near-dup: pigeonhole-banded segment equi-join +
    // exact hamming verify — identical output to dedup_simhash_pairs
    // (SimhashSpec asserts it), but candidate generation is an
    // equi-join on (segment index, segment value): hash-partitionable,
    // O(pairs sharing a segment) instead of O(n²). The classic
    // multi-index hamming search (Manku et al., WWW'07) as one shuffle.
    "dedup_simhash_banded" -> ((s, d) => {
      val sh = simhashDf(s, d)
      val segMask = (1L << SIMHASH_SEG_BITS) - 1
      val segs = sh.select(col("doc_id"), col("simhash"),
        explode(array((0 until SIMHASH_SEGS).map(i =>
          struct(lit(i).as("i"),
            shiftright(col("simhash"), i * SIMHASH_SEG_BITS)
              .bitwiseAND(lit(segMask).cast(sh.schema("simhash").dataType))
              .as("v"))): _*)).as("seg"))
        .select(col("doc_id"), col("simhash"),
          col("seg.i").as("seg_i"), col("seg.v").as("seg_v"))
      val a = segs.select(col("seg_i"), col("seg_v"),
        col("doc_id").as("doc_a"), col("simhash").as("h_a"))
      val b = segs.select(col("seg_i"), col("seg_v"),
        col("doc_id").as("doc_b"), col("simhash").as("h_b"))
      a.join(b, Seq("seg_i", "seg_v"))
        .filter(col("doc_a") < col("doc_b"))
        // a pair can agree on several segments → dedup before the verify
        .select("doc_a", "doc_b", "h_a", "h_b").distinct()
        .withColumn("hamming", expr("CAST(bit_count(h_a ^ h_b) AS INT)"))
        .filter(col("hamming") <= SIMHASH_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    }),

    // Duplicate clusters: connected components over the minhash near-dup
    // pair graph — min-label propagation with a pointer-jumping shortcut
    // (see [[connectedComponents]]), converging to the same fixpoint
    // (min reachable id) as the oracle's recursive transitive closure
    // regardless of iteration order.
    "dedup_clusters" -> ((s, d) =>
      componentsFor(s, d, "minhash", queries("dedup_minhash_lsh"))),

    // Cluster-SIZE distribution of the near-dup graph — the power-law
    // report every dedup paper plots (how much of the corpus sits in
    // large duplicate families vs singletons) and the capacity input
    // for the keep-canonical pass. Runs entirely on the memoized
    // component labels: two hash aggs collapse docs → clusters →
    // O(distinct sizes) rows; the share denominator is a broadcast
    // 1-row aggregate.
    "dedup_cluster_sizes" -> ((s, d) => {
      val sizes = queries("dedup_clusters")(s, d)
        .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      val hist = sizes.groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      val tot = hist.agg(sum("n_docs").cast("long").as("tot"))
      hist.crossJoin(broadcast(tot))
        .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
          (col("n_docs").cast("double") / col("tot").cast("double"))
            .as("doc_share"))
    }),

    // The dedup pipeline's actual OUTPUT: the kept corpus. One doc per
    // near-dup cluster — the highest-quality copy (singletons keep
    // themselves; every doc is its own component until merged). This is
    // the query a training pipeline materializes; the pair/cluster
    // relations are its intermediates. The per-cluster argmax runs on
    // the 1-row-heap TopKPerKey form (no sort of the corpus), and the
    // quality join is co-keyed on doc_id.
    "dedup_keep_canonical" -> ((s, d) => {
      val clusters = queries("dedup_clusters")(s, d)
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.qualityScore.as("quality_score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster_id")
        .orderBy(col("quality_score").desc, col("doc_id"))
      clusters.join(scored, "doc_id")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("kept_doc"),
          col("quality_score"))
    }),

    // The simhash family's cluster output: connected components over
    // the BANDED near-dup pair graph — the composition you actually run
    // at corpus scale (blocked candidate generation feeding min-label
    // propagation), same fixpoint machinery as dedup_clusters.
    "dedup_simhash_clusters" -> ((s, d) =>
      componentsFor(s, d, "simhash", queries("dedup_simhash_banded"))),

    // Measure, don't guess (text side): MinHash-LSH recall against the
    // inverted-index ground truth — of the pairs the exhaustive-ish
    // ngram path proves are jaccard ≥ 0.5, what fraction did banding
    // surface? Both sides deterministic, so recall is a verifiable
    // number; a banding change that hurts recall now FAILS loudly
    // instead of silently shrinking the duplicate graph.
    "dedup_lsh_recall" -> ((s, d) => {
      val truth = queries("dedup_ngram_jaccard")(s, d)
        .filter(col("jaccard") >= JACCARD_NEAR)
        .select("doc_a", "doc_b")
      val lsh = queries("dedup_minhash_lsh")(s, d)
        .select(col("doc_a").as("la"), col("doc_b").as("lb"))
      truth.join(lsh,
          col("doc_a") === col("la") && col("doc_b") === col("lb"), "left")
        .agg(count(lit(1)).as("n_truth"),
          sum(when(col("la").isNotNull, 1).otherwise(0)).cast("long").as("n_found"),
          (sum(when(col("la").isNotNull, 1).otherwise(0)).cast("double") /
            count(lit(1))).as("recall"))
    }),

    // LSH banding TRADEOFF curve — the (bands, rows-per-band) knob IS
    // the scale decision at 100 TB: more bands/shorter rows catch more
    // true pairs (P[cand] = 1−(1−J^r)^b, the S-curve) but explode the
    // candidate set every verify must pay for; fewer/longer bands
    // invert both. This query MEASURES the curve on this corpus for
    // the three configs the 8-component signature admits — (8,1),
    // (4,2) [the shipped dedup_minhash_lsh config], (2,4) — reporting
    // candidate volume, recall vs the exact ground truth, and
    // candidate precision, from ONE signature pass re-banded three
    // ways. The same sizing-study convention as ann_pq_error: the
    // shipped config's neighbors measured, not assumed.
    "dedup_lsh_tradeoff" -> ((s, d) => {
      val sh = docShingles(s, d)
      val m1 = md5(col("g"))
      val m2 = md5(concat(lit("#"), col("g")))
      def h(seed: Int): Column =
        conv(substring(if (seed < 4) m1 else m2, 8 * (seed % 4) + 1, 8), 16, 10)
          .cast("long")
      val posting = sh.select(col("doc_id"), explode(col("sh")).as("g"))
      val sig = posting.groupBy("doc_id").agg(
        min(h(0)).as("sig0"),
        (1 until MINHASH_SEEDS).map(sd => min(h(sd)).as(s"sig$sd")): _*)
        .transform(graft.CachePool.persist)
      val truth = queries("dedup_ngram_jaccard")(s, d)
        .filter(col("jaccard") >= JACCARD_NEAR).select("doc_a", "doc_b")
        .transform(graft.CachePool.persist)
      def config(r: Int): DataFrame = {
        val nb = MINHASH_SEEDS / r
        val bands = sig.select(col("doc_id"),
          explode(array((0 until nb).map { b =>
            concat_ws("|", lit(s"$b") +:
              (0 until r).map(i => col(s"sig${r * b + i}").cast("string")): _*)
          }: _*)).as("bk"))
        val cand = graft.CachePool.persist(bands.as("a")
          .join(bands.as("b"),
            col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("ca"), col("b.doc_id").as("cb"))
          .distinct())
        truth.join(cand,
            col("doc_a") === col("ca") && col("doc_b") === col("cb"), "left")
          .agg(count(lit(1)).as("n_truth"),
            sum(when(col("ca").isNotNull, 1L).otherwise(0L)).as("n_found"))
          .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidates"))))
          .select(lit(nb).cast("int").as("bands"),
            lit(r).cast("int").as("rows_per_band"),
            col("n_candidates"), col("n_truth"), col("n_found"),
            when(col("n_truth") === 0L, lit(null).cast("double"))
              .otherwise(col("n_found").cast("double") /
                col("n_truth").cast("double")).as("recall"),
            when(col("n_candidates") === 0L, lit(null).cast("double"))
              .otherwise(col("n_found").cast("double") /
                col("n_candidates").cast("double")).as("candidate_precision"))
      }
      config(1).unionByName(config(2)).unionByName(config(4))
    }),

    // Embedding near-dup, BLOCKED: sign-bit LSH buckets as the join key
    // — the scale path made a first-class query (the brute-force
    // baseline below is its oracle-of-intent). Only same-bucket pairs
    // are scored: O(pairs-in-bucket), hash-partitionable at any scale.
    "dedup_embedding_lsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .transform(Tables.spread(_, col("vec_id")))
        .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("e"))
        .withColumn("bucket", VectorOps.signBucket(col("e"), EMB_LSH_DIMS))
      val a = e.select(col("bucket"), col("vec_id").as("vec_a"), col("e").as("e_a"))
      val b = e.select(col("bucket"), col("vec_id").as("vec_b"), col("e").as("e_b"))
      a.join(b, Seq("bucket"))
        .filter(col("vec_a") < col("vec_b"))
        .withColumn("cosine", GraftFunctions.cosineSim(col("e_a"), col("e_b")))
        .filter(col("cosine") >= COSINE_NEAR)
        .select("vec_a", "vec_b", "cosine")
        // r17: consumed by dedup_embedding_lsh_recall and
        // dedup_lexical_semantic_overlap (twice each) — one persisted
        // copy serves every identical subtree in the family window
        .transform(graft.CachePool.persist)
    }),

    // Benchmark-contamination detection: how much of a benchmark doc's
    // 5-gram shingle set is CONTAINED in each training doc (asymmetric,
    // unlike jaccard) — the eval-leakage check every LLM data pipeline
    // needs. Posting-list join, O(shared shingles); the DF-cap guard
    // from dedup_ngram_jaccard applies unchanged at larger scale.
    "dedup_contamination" -> ((s, d) => {
      // the 5-gram relation feeds both sides → persist once; the bench
      // side is tiny (N_BENCH docs) → BROADCAST its posting list, so
      // corpus postings stream through the join with no shuffle and
      // only matching shingles reach the aggregate
      val five = Tables.documents(s, d)
        .select(col("doc_id"), col("text")) // project before the exchange
        .transform(Tables.spread(_, col("doc_id")))
        .filter(size(words) >= 5)
        .select(col("doc_id"), shingleCol(5).as("sh"))
        .transform(graft.CachePool.persist)
      val benchP = five.filter(col("doc_id") < N_BENCH)
        .select(col("doc_id").as("bench_id"), explode(col("sh")).as("g"))
      val benchSize = benchP.groupBy("bench_id").agg(count(lit(1)).as("b_n"))
      val corpusP = five.filter(col("doc_id") >= N_BENCH)
        .select(col("doc_id"), explode(col("sh")).as("g"))
      broadcast(benchP).join(corpusP, "g")
        .groupBy("bench_id", "doc_id")
        .agg(count(lit(1)).as("n_shared"))
        .join(broadcast(benchSize), "bench_id")
        .withColumn("containment", col("n_shared").cast("double") / col("b_n"))
        .filter(col("containment") >= CONTAIN_MIN)
        .select("bench_id", "doc_id", "containment")
    }),

    // Decontamination at SKETCH cost, with its price MEASURED: the
    // exact containment screen above streams every corpus posting
    // through the bench join — fine when the bench side broadcasts, but
    // the per-probe cost is O(corpus postings). This variant generates
    // candidates from the standing 3-gram MinHash bands (a bipartite
    // bench×corpus band probe — the dedup_incremental shape, O(band
    // collisions) not O(postings)) and reports recall against the exact
    // screen. The HONESTY CLAUSE is the point: MinHash bands model
    // JACCARD, while decontamination wants CONTAINMENT of the bench
    // doc — a short bench doc swallowed by a long corpus doc has high
    // containment but low jaccard, and the bands CAN miss it. The
    // measured recall is the number that says whether that failure mode
    // exists on this corpus before anyone ships the cheap path.
    "dedup_contamination_lsh" -> ((s, d) => {
      val exact = queries("dedup_contamination")(s, d)
        .select(col("bench_id"), col("doc_id"))
      val bands = minhashBands(docShingles(s, d))
      val cand = bands.filter(col("doc_id") < N_BENCH).as("a")
        .join(bands.filter(col("doc_id") >= N_BENCH).as("b"),
          col("a.band_key") === col("b.band_key"))
        .select(col("a.doc_id").as("bench_id"), col("b.doc_id").as("doc_id"))
        .distinct()
      val found = exact.join(cand, Seq("bench_id", "doc_id"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact")).withColumn("__k", lit(1))
        .join(cand.agg(count(lit(1)).as("n_candidates"))
          .withColumn("__k", lit(1)), "__k")
        .join(found.agg(count(lit(1)).as("n_found"))
          .withColumn("__k", lit(1)), "__k")
        .select(col("n_exact"), col("n_candidates"), col("n_found"),
          (col("n_found").cast("double") / col("n_exact").cast("double"))
            .as("recall"))
    }),

    // Lexical-vs-semantic dedup OVERLAP census — the budget question
    // for running BOTH tiers: how many pairs does embedding dedup add
    // that n-gram jaccard already finds (and vice versa)? Reported as
    // the two pair counts, the intersection, and the pair-set jaccard.
    // On this corpus ann_text_alignment already showed the embeddings
    // don't encode the text, so the honest expected answer is ~zero
    // overlap — the census is the per-corpus number that justifies (or
    // retires) a tier. SEMANTIC SIDE = the BLOCKED path
    // (dedup_embedding_lsh, bucket equi-join): a production census must
    // inherit the production plan, not the brute all-pairs baseline the
    // blocked variants exist to avoid (r11 verdict #3 — composing
    // dedup_embedding_cosine here silently re-introduced the O(n²)
    // join). The blocked-recall caveat: the semantic counts are the LSH
    // candidate view of the pair set; dedup_embedding_lsh_recall below
    // MEASURES that view's recall vs the brute ground truth, so the
    // census reads together with that number. Both pair relations are
    // already-verified queries; the overlap is a co-partitioned
    // semi-join on the pair key, three 1-row counts combine at the end,
    // and the jaccard carries the repo's 0/0 guard (NULL, not NaN —
    // matching DuckDB's NULL-propagating division; r12 advice).
    "dedup_lexical_semantic_overlap" -> ((s, d) => {
      val lex = queries("dedup_ngram_jaccard")(s, d)
        .select(col("doc_a"), col("doc_b"))
      val sem = queries("dedup_embedding_lsh")(s, d)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      val both = lex.join(sem, Seq("doc_a", "doc_b"), "left_semi")
      lex.agg(count(lit(1)).as("n_lexical")).withColumn("__k", lit(1))
        .join(sem.agg(count(lit(1)).as("n_semantic"))
          .withColumn("__k", lit(1)), "__k")
        .join(both.agg(count(lit(1)).as("n_both"))
          .withColumn("__k", lit(1)), "__k")
        .select(col("n_lexical"), col("n_semantic"), col("n_both"),
          when(col("n_lexical") + col("n_semantic") - col("n_both") === 0L,
            lit(null).cast("double"))
            .otherwise(col("n_both").cast("double") /
              (col("n_lexical") + col("n_semantic") - col("n_both"))
                .cast("double")).as("pair_jaccard"))
    }),

    // The blocked-path recall number the census above cites: of the
    // pairs the brute-force cosine baseline proves are ≥ COSINE_NEAR,
    // what fraction does the sign-bit LSH bucketing surface? The brute
    // all-pairs join appears here ONLY as the declared test-scale
    // ground truth (the dedup_lsh_recall convention — at production
    // scale recall is re-measured on a fixed probe sample, never the
    // full corpus); the candidate side is the production bucket
    // equi-join. A bucketing change that drops recall fails loudly.
    "dedup_embedding_lsh_recall" -> ((s, d) => {
      val truth = queries("dedup_embedding_cosine")(s, d)
        .select(col("vec_a"), col("vec_b"))
      val lsh = queries("dedup_embedding_lsh")(s, d)
        .select(col("vec_a").as("la"), col("vec_b").as("lb"))
      truth.join(lsh,
          col("vec_a") === col("la") && col("vec_b") === col("lb"), "left")
        .agg(count(lit(1)).as("n_truth"),
          sum(when(col("la").isNotNull, 1).otherwise(0)).cast("long")
            .as("n_found"))
        .select(col("n_truth"), col("n_found"),
          when(col("n_truth") === 0L, lit(null).cast("double"))
            .otherwise(col("n_found").cast("double") /
              col("n_truth").cast("double")).as("recall"))
    }),

    // Embedding near-dup: brute-force cosine over all pairs (test-scale
    // baseline; blocked variants live in Similarity as the scale path).
    "dedup_embedding_cosine" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .transform(Tables.spread(_, col("vec_id")))
        .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("e"))
      val a = e.select(col("vec_id").as("vec_a"), col("e").as("e_a"))
      val b = e.select(col("vec_id").as("vec_b"), col("e").as("e_b"))
      a.join(b, col("vec_a") < col("vec_b"))
        .withColumn("cosine", GraftFunctions.cosineSim(col("e_a"), col("e_b")))
        .filter(col("cosine") >= COSINE_NEAR)
        .select("vec_a", "vec_b", "cosine")
    })
  )

  /** 64-bit simhash per doc. Token hash = md5 hex digits 1-8 (bits
    * 0-31, "lo") and 9-16 (bits 32-63, "hi") — each 32-bit half fits a
    * signed long EXACTLY, so no engine-specific unsigned-64 parsing is
    * ever needed. The fingerprint is assembled as a two's-complement
    * BIGINT: bit 63's weight is Long.MinValue and is added LAST, so the
    * running sum stays within [−2^63, 2^63−1] at every step — portable
    * to DuckDB, whose checked BIGINT addition would reject an overflow.
    */
  private[operators] def simhashDf(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), col("text")) // project before the exchange
      .transform(Tables.spread(_, col("doc_id")))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), md5(col("w")).as("h"))
      .select(col("doc_id"),
        conv(substring(col("h"), 1, 8), 16, 10).cast("long").as("lo"),
        conv(substring(col("h"), 9, 8), 16, 10).cast("long").as("hi"))
    val sums = (0 until SIMHASH_BITS).map { j =>
      val half = if (j < 32) shiftright(col("lo"), j)
                 else shiftright(col("hi"), j - 32)
      sum(when(half.bitwiseAND(lit(1L)) === 1, 1).otherwise(-1)).as(s"s$j")
    }
    val fp = (0 until SIMHASH_BITS).map { j =>
      val weight = if (j == 63) Long.MinValue else 1L << j
      when(col(s"s$j") > 0, lit(weight)).otherwise(lit(0L))
    }.reduce(_ + _)
    tok.groupBy("doc_id")
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), fp.cast("long").as("simhash"))
  }

  // ---------------- oracles ----------------

  // Mirrors [[simhashDf]] exactly: the same two 32-bit md5 halves (hex
  // cast via the '0x' prefix, as in the minhash oracle), the same
  // per-bit ±1 sums, the same two's-complement assembly with bit 63's
  // weight −2^63 added last so no checked BIGINT addition can overflow.
  private[operators] val simhashSqlBase: String = {
    val sums = (0 until SIMHASH_BITS).map { j =>
      val half = if (j < 32) s"(lo >> $j)" else s"(hi >> ${j - 32})"
      s"SUM(CASE WHEN $half & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
    }.mkString(", ")
    val fp = (0 until SIMHASH_BITS).map { j =>
      val weight = if (j == 63) "(-9223372036854775807 - 1)" else (1L << j).toString
      s"(CASE WHEN s$j > 0 THEN $weight ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents),
       |tv AS (SELECT doc_id, ('0x' || substr(h, 1, 8))::BIGINT AS lo,
       |               ('0x' || substr(h, 9, 8))::BIGINT AS hi FROM tok),
       |sums AS (SELECT doc_id, $sums FROM tv GROUP BY doc_id)
       |SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM sums""".stripMargin
  }

  private lazy val oracleNgramJaccard: String =
    s"""WITH d AS ($docShinglesSql),
       |posting AS (SELECT doc_id, unnest(sh) AS g FROM d),
       |rare AS (SELECT g FROM posting GROUP BY g HAVING COUNT(*) <= $DF_CAP),
       |rp AS (SELECT doc_id, posting.g FROM posting JOIN rare ON posting.g = rare.g),
       |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM rp a JOIN rp b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $MIN_SHARED)
       |SELECT doc_a, doc_b, $jaccardSql AS jaccard
       |FROM cand JOIN d da ON doc_a = da.doc_id JOIN d db ON doc_b = db.doc_id
       |WHERE $jaccardSql >= $JACCARD_RELATED""".stripMargin

  /** Same rare-shingle candidates as oracleNgramJaccard; the exact
    * verify divides the SAME integer intersection by each side's own
    * set size (one IEEE division of two exact ints per direction —
    * engine-identical), and the UNION ALL mirrors the directed
    * emission.
    */
  private lazy val oracleContainment: String =
    s"""WITH d AS ($docShinglesSql),
       |posting AS (SELECT doc_id, unnest(sh) AS g FROM d),
       |rare AS (SELECT g FROM posting GROUP BY g HAVING COUNT(*) <= $DF_CAP),
       |rp AS (SELECT doc_id, posting.g FROM posting JOIN rare ON posting.g = rare.g),
       |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM rp a JOIN rp b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $MIN_SHARED),
       |j AS (SELECT doc_a, doc_b,
       |    len(list_filter(da.sh, x -> list_contains(db.sh, x))) AS inter,
       |    len(da.sh) AS la, len(db.sh) AS lb
       |  FROM cand JOIN d da ON doc_a = da.doc_id JOIN d db ON doc_b = db.doc_id),
       |u AS (SELECT doc_a AS contained_doc, doc_b AS container_doc,
       |    CAST(inter AS DOUBLE) / la AS containment FROM j
       |  UNION ALL SELECT doc_b, doc_a, CAST(inter AS DOUBLE) / lb FROM j)
       |SELECT contained_doc, container_doc, containment
       |FROM u WHERE containment >= $CONTAINMENT_T""".stripMargin

  /** Same prefix-filter algorithm in DuckDB. Candidate-set parity is
    * not required for correctness (both engines' prefixes are lossless
    * supersets of the true pair set and the exact verify filters to
    * jaccard ≥ τ), but the ordering is in fact identical: ascending
    * (df, shingle) on lowercase-ASCII strings is the same total order
    * under Spark UTF8 binary comparison and DuckDB's default binary
    * collation. `list_slice`'s 1-based inclusive end == Spark `slice`'s
    * (start=1, length=n).
    */
  private lazy val oracleJaccardPrefix: String =
    s"""WITH d AS ($docShinglesSql),
       |posting AS (SELECT doc_id, unnest(sh) AS g FROM d),
       |df AS (SELECT g, COUNT(*) AS df FROM posting GROUP BY g),
       |tok AS (SELECT doc_id, list(posting.g ORDER BY df.df, posting.g) AS toks
       |  FROM posting JOIN df ON posting.g = df.g GROUP BY doc_id),
       |pr AS (SELECT doc_id, len(toks) AS l,
       |  unnest(list_slice(toks, 1, len(toks) // 2 + 1)) AS g FROM tok),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pr a JOIN pr b ON a.g = b.g AND a.doc_id < b.doc_id
       |    AND 2 * least(a.l, b.l) >= greatest(a.l, b.l))
       |SELECT doc_a, doc_b, $jaccardSql AS jaccard
       |FROM cand JOIN d da ON doc_a = da.doc_id JOIN d db ON doc_b = db.doc_id
       |WHERE $jaccardSql >= $JACCARD_NEAR""".stripMargin

  /** shared shingle → signature → band-posting CTE chain. */
  private lazy val minhashBandCtes: String = {
    val sigCols = (0 until MINHASH_SEEDS).map { sd =>
      val digest = if (sd < 4) "md5(g)" else "md5('#' || g)"
      s"MIN(('0x' || substr($digest, ${8 * (sd % 4) + 1}, 8))::BIGINT) AS sig$sd"
    }.mkString(", ")
    val bandList = (0 until BANDS).map(b =>
      s"'$b|' || CAST(sig${2 * b} AS VARCHAR) || '|' || CAST(sig${2 * b + 1} AS VARCHAR)")
      .mkString("[", ", ", "]")
    s"""d AS ($docShinglesSql),
       |posting AS (SELECT doc_id, unnest(sh) AS g FROM d),
       |sig AS (SELECT doc_id, $sigCols FROM posting GROUP BY doc_id),
       |band AS (SELECT doc_id, unnest($bandList) AS band_key FROM sig)""".stripMargin
  }

  private lazy val minhashPairsSql: String =
    s"""WITH $minhashBandCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM band a JOIN band b ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, $jaccardSql AS jaccard
       |FROM cand JOIN d da ON doc_a = da.doc_id JOIN d db ON doc_b = db.doc_id
       |WHERE $jaccardSql >= $JACCARD_NEAR""".stripMargin

  /** bipartite (corpus × incoming snapshot) variant of the band join;
    * the incoming side is the salted-md5 doc_id split, identical in
    * both engines.
    */
  private lazy val incrementalPairsSql: String = {
    val inc = "substr(md5(CAST(%s AS VARCHAR)), 1, 1) IN ('0','1','2')"
    s"""WITH $minhashBandCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM band a JOIN band b ON a.band_key = b.band_key
       |  WHERE NOT ${inc.format("a.doc_id")} AND ${inc.format("b.doc_id")})
       |SELECT doc_a, doc_b, $jaccardSql AS jaccard
       |FROM cand JOIN d da ON doc_a = da.doc_id JOIN d db ON doc_b = db.doc_id
       |WHERE $jaccardSql >= $JACCARD_NEAR""".stripMargin
  }

  private lazy val simhashBandedSql: String =
    s"""WITH sh AS ($simhashSqlBase),
       |seg AS (SELECT doc_id, simhash, i AS seg_i,
       |    (simhash >> (i * $SIMHASH_SEG_BITS)) & ${(1L << SIMHASH_SEG_BITS) - 1} AS seg_v
       |  FROM sh, range($SIMHASH_SEGS) t(i)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.simhash AS h_a, b.simhash AS h_b
       |  FROM seg a JOIN seg b ON a.seg_i = b.seg_i AND a.seg_v = b.seg_v
       |    AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(h_a, h_b)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(h_a, h_b)) <= $SIMHASH_HAMMING""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS fingerprint,
        |  MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_exact_keep_best" ->
      s"""WITH scored AS (SELECT doc_id, md5(lower(trim(text))) AS fingerprint,
         |    ${TextAnalysis.qualityScoreSql} AS quality_score
         |  FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY fingerprint
         |    ORDER BY quality_score DESC, doc_id) AS rn FROM scored)
         |SELECT fingerprint, doc_id, quality_score FROM r WHERE rn = 1""".stripMargin,
    "dedup_minhash_lsh" -> minhashPairsSql,
    "dedup_minhash_error" -> {
      val nMatchSql = (0 until MINHASH_SEEDS)
        .map(i => s"CASE WHEN sa2.sig$i = sb2.sig$i THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""WITH $minhashBandCtes,
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM band a JOIN band b ON a.band_key = b.band_key
         |    AND a.doc_id < b.doc_id),
         |pj AS (SELECT $nMatchSql AS n_match, $jaccardSql AS j
         |  FROM cand JOIN d da ON doc_a = da.doc_id
         |  JOIN d db ON doc_b = db.doc_id
         |  JOIN sig sa2 ON doc_a = sa2.doc_id
         |  JOIN sig sb2 ON doc_b = sb2.doc_id)
         |SELECT n_match, COUNT(*) AS n_pairs,
         |  CAST(n_match AS DOUBLE) / ${MINHASH_SEEDS.toDouble} AS estimate,
         |  CAST(SUM(CAST(FLOOR(j * 1073741824.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / 1073741824.0 / CAST(COUNT(*) AS DOUBLE) AS mean_jaccard,
         |  CAST(SUM(CAST(FLOOR(abs(CAST(n_match AS DOUBLE)
         |      / ${MINHASH_SEEDS.toDouble} - j) * 1073741824.0 + 0.5)
         |    AS BIGINT)) AS DOUBLE) / 1073741824.0 / CAST(COUNT(*) AS DOUBLE)
         |    AS mean_abs_err
         |FROM pj GROUP BY n_match""".stripMargin
    },
    "dedup_minhash_bbit" -> {
      val bs = Seq(1, 2, 4, 8, 16, 32)
      val pjCols = bs.map { b =>
        val mod = 1L << b
        val m = (0 until MINHASH_SEEDS).map(i =>
          s"CASE WHEN sa2.sig$i % $mod = sb2.sig$i % $mod THEN 1 ELSE 0 END")
          .mkString("(", " + ", ")")
        s"$m AS m_$b"
      }.mkString(",\n  ")
      val sums = bs.map { b =>
        val c = 1.0 / (1L << b).toDouble
        s"""SUM(CAST(FLOOR(abs((CAST(m_$b AS DOUBLE) / ${MINHASH_SEEDS.toDouble}
           | - $c) / ${1.0 - c} - j) * 1073741824.0 + 0.5) AS BIGINT)) AS e_$b"""
          .stripMargin
      }.mkString(",\n  ")
      val rows = bs.map { b =>
        s"""SELECT CAST($b AS INT) AS bits,
           |  CAST($b * $MINHASH_SEEDS AS INT) AS sig_bits_per_doc, n_pairs,
           |  CAST(e_$b AS DOUBLE) / 1073741824.0 / CAST(n_pairs AS DOUBLE)
           |    AS mean_abs_err FROM agg""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH $minhashBandCtes,
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM band a JOIN band b ON a.band_key = b.band_key
         |    AND a.doc_id < b.doc_id),
         |pj AS (SELECT $pjCols,
         |  $jaccardSql AS j
         |  FROM cand JOIN d da ON doc_a = da.doc_id
         |  JOIN d db ON doc_b = db.doc_id
         |  JOIN sig sa2 ON doc_a = sa2.doc_id
         |  JOIN sig sb2 ON doc_b = sb2.doc_id),
         |agg AS (SELECT COUNT(*) AS n_pairs, $sums FROM pj)
         |$rows""".stripMargin
    },
    "dedup_incremental" -> incrementalPairsSql,
    "dedup_clusters" ->
      s"""WITH RECURSIVE pairs AS ($minhashPairsSql),
         |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |walk(doc, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.t, walk.lbl FROM walk JOIN edges e ON walk.doc = e.s)
         |SELECT doc AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY doc""".stripMargin,
    "dedup_cluster_sizes" ->
      s"""WITH RECURSIVE pairs AS ($minhashPairsSql),
         |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |walk(doc, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.t, walk.lbl FROM walk JOIN edges e ON walk.doc = e.s),
         |comp AS (SELECT doc AS doc_id, MIN(lbl) AS cluster_id
         |  FROM walk GROUP BY doc),
         |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size
         |  FROM comp GROUP BY cluster_id),
         |h AS (SELECT cluster_size, COUNT(*) AS n_clusters,
         |    CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
         |  FROM sz GROUP BY cluster_size)
         |SELECT cluster_size, n_clusters, n_docs,
         |  CAST(n_docs AS DOUBLE) /
         |    CAST((SELECT CAST(SUM(n_docs) AS BIGINT) FROM h) AS DOUBLE)
         |    AS doc_share
         |FROM h""".stripMargin,
    "dedup_keep_canonical" ->
      s"""WITH RECURSIVE pairs AS ($minhashPairsSql),
         |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |walk(doc, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.t, walk.lbl FROM walk JOIN edges e ON walk.doc = e.s),
         |comp AS (SELECT doc AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY doc),
         |scored AS (SELECT doc_id, ${TextAnalysis.qualityScoreSql} AS quality_score
         |  FROM documents),
         |r AS (SELECT cluster_id, comp.doc_id, quality_score,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY quality_score DESC, comp.doc_id) AS rn
         |  FROM comp JOIN scored ON comp.doc_id = scored.doc_id)
         |SELECT cluster_id, doc_id AS kept_doc, quality_score
         |FROM r WHERE rn = 1""".stripMargin,
    "dedup_ngram_jaccard" -> oracleNgramJaccard,
    "dedup_pair_triangles" ->
      s"""WITH p AS (SELECT doc_a, doc_b FROM (${"\n"}${oracleNgramJaccard}) t
         |  WHERE jaccard >= $JACCARD_NEAR),
         |deg AS (SELECT n, COUNT(*) AS deg FROM (
         |    SELECT doc_a AS n FROM p UNION ALL SELECT doc_b FROM p) u GROUP BY n),
         |w AS (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
         |e AS (SELECT COUNT(*) AS n_edges FROM p),
         |t AS (SELECT COUNT(*) AS n_triangles
         |  FROM p e1 JOIN p e2 ON e1.doc_b = e2.doc_a
         |  JOIN p e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)
         |SELECT n_edges, n_wedges, n_triangles,
         |  CASE WHEN n_wedges = 0 THEN NULL
         |       ELSE 3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
         |  END AS transitivity
         |FROM e, w, t""".stripMargin,
    "dedup_containment" -> oracleContainment,
    "dedup_jaccard_prefix" -> oracleJaccardPrefix,
    "dedup_simhash" -> simhashSqlBase,
    "dedup_simhash_pairs" ->
      s"""WITH sh AS ($simhashSqlBase)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= $SIMHASH_HAMMING""".stripMargin,
    "dedup_simhash_banded" -> simhashBandedSql,
    "dedup_simhash_clusters" ->
      s"""WITH RECURSIVE pairs AS ($simhashBandedSql),
         |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |walk(doc, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.t, walk.lbl FROM walk JOIN edges e ON walk.doc = e.s)
         |SELECT doc AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY doc""".stripMargin,
    "dedup_lsh_recall" ->
      s"""WITH truth AS (
         |  SELECT doc_a, doc_b FROM (${"\n"}${oracleNgramJaccard}) t
         |  WHERE jaccard >= $JACCARD_NEAR),
         |lsh AS (SELECT doc_a AS la, doc_b AS lb FROM ($minhashPairsSql) u)
         |SELECT COUNT(*) AS n_truth,
         |  CAST(SUM(CASE WHEN la IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
         |  CAST(SUM(CASE WHEN la IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS recall
         |FROM truth LEFT JOIN lsh ON doc_a = la AND doc_b = lb""".stripMargin,
    "dedup_lsh_tradeoff" -> {
      val sigCols = (0 until MINHASH_SEEDS).map { sd =>
        val digest = if (sd < 4) "md5(g)" else "md5('#' || g)"
        s"MIN(('0x' || substr($digest, ${8 * (sd % 4) + 1}, 8))::BIGINT) AS sig$sd"
      }.mkString(", ")
      def cfg(r: Int): String = {
        val nb = MINHASH_SEEDS / r
        val bandList = (0 until nb).map { b =>
          (s"'$b'" +: (0 until r).map(i => s"CAST(sig${r * b + i} AS VARCHAR)"))
            .mkString(" || '|' || ")
        }.mkString("[", ", ", "]")
        s"""band$r AS (SELECT doc_id, unnest($bandList) AS bk FROM sig),
           |cand$r AS (SELECT DISTINCT a.doc_id AS ca, b.doc_id AS cb
           |  FROM band$r a JOIN band$r b ON a.bk = b.bk AND a.doc_id < b.doc_id),
           |nc$r AS (SELECT COUNT(*) AS n_candidates FROM cand$r),
           |res$r AS (SELECT CAST($nb AS INT) AS bands,
           |    CAST($r AS INT) AS rows_per_band,
           |    nc.n_candidates, t.n_truth, t.n_found
           |  FROM (SELECT COUNT(*) AS n_truth,
           |      CAST(SUM(CASE WHEN ca IS NOT NULL THEN 1 ELSE 0 END)
           |        AS BIGINT) AS n_found
           |    FROM truth LEFT JOIN cand$r ON doc_a = ca AND doc_b = cb) t
           |  CROSS JOIN nc$r nc)"""
          .stripMargin
      }
      s"""WITH d AS ($docShinglesSql),
         |posting AS (SELECT doc_id, unnest(sh) AS g FROM d),
         |sig AS (SELECT doc_id, $sigCols FROM posting GROUP BY doc_id),
         |truth AS (
         |  SELECT doc_a, doc_b FROM (${"\n"}${oracleNgramJaccard}) t
         |  WHERE jaccard >= $JACCARD_NEAR),
         |${cfg(1)},
         |${cfg(2)},
         |${cfg(4)}
         |SELECT bands, rows_per_band, n_candidates, n_truth, n_found,
         |  CASE WHEN n_truth = 0 THEN NULL
         |    ELSE CAST(n_found AS DOUBLE) / CAST(n_truth AS DOUBLE) END AS recall,
         |  CASE WHEN n_candidates = 0 THEN NULL
         |    ELSE CAST(n_found AS DOUBLE) / CAST(n_candidates AS DOUBLE) END
         |    AS candidate_precision
         |FROM (SELECT * FROM res1 UNION ALL SELECT * FROM res2
         |      UNION ALL SELECT * FROM res4) u""".stripMargin
    },
    "dedup_embedding_lsh" ->
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |b AS (SELECT vec_id, e, ${VectorOps.signBucketSql("e", EMB_LSH_DIMS)} AS bucket FROM ev)
         |SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
         |  ${VectorOps.cosineSql("a.e", "c.e", 64)} AS cosine
         |FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
         |WHERE ${VectorOps.cosineSql("a.e", "c.e", 64)} >= $COSINE_NEAR""".stripMargin,
    "dedup_contamination" ->
      s"""WITH d AS (
         |  SELECT doc_id, ${shingleSql(5).replace("w", "string_split(text,' ')")} AS sh
         |  FROM documents WHERE len(string_split(text,' ')) >= 5),
         |bp AS (SELECT doc_id AS bench_id, unnest(sh) AS g FROM d WHERE doc_id < $N_BENCH),
         |bs AS (SELECT bench_id, COUNT(*) AS b_n FROM bp GROUP BY bench_id),
         |cp AS (SELECT doc_id, unnest(sh) AS g FROM d WHERE doc_id >= $N_BENCH),
         |j AS (SELECT bench_id, doc_id, COUNT(*) AS n_shared
         |      FROM bp JOIN cp USING (g) GROUP BY 1, 2)
         |SELECT bench_id, doc_id, CAST(n_shared AS DOUBLE) / b_n AS containment
         |FROM j JOIN bs USING (bench_id)
         |WHERE CAST(n_shared AS DOUBLE) / b_n >= $CONTAIN_MIN""".stripMargin,
    "dedup_embedding_cosine" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ${VectorOps.cosineSql("a.e", "b.e", 64)} AS cosine
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE ${VectorOps.cosineSql("a.e", "b.e", 64)} >= $COSINE_NEAR""".stripMargin,
    // Both verified pair chains as CTEs; the same three scalar counts.
    // Semantic side = the BLOCKED bucket join (mirrors the query); the
    // brute-force pair set remains available as its own oracle-checked
    // baseline (dedup_embedding_cosine) and as the recall ground truth
    // below — the census itself must not pay for it.
    "dedup_lexical_semantic_overlap" ->
      s"""WITH lex AS ($oracleNgramJaccard),
         |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |bk AS (SELECT vec_id, e, ${VectorOps.signBucketSql("e", EMB_LSH_DIMS)} AS bucket FROM ev),
         |sem AS (SELECT a.vec_id AS doc_a, c.vec_id AS doc_b
         |  FROM bk a JOIN bk c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
         |  WHERE ${VectorOps.cosineSql("a.e", "c.e", 64)} >= $COSINE_NEAR),
         |t AS (SELECT (SELECT COUNT(*) FROM lex) AS n_lexical,
         |  (SELECT COUNT(*) FROM sem) AS n_semantic,
         |  (SELECT COUNT(*) FROM lex JOIN sem USING (doc_a, doc_b))
         |    AS n_both)
         |SELECT n_lexical, n_semantic, n_both,
         |  CASE WHEN n_lexical + n_semantic - n_both = 0 THEN NULL
         |    ELSE CAST(n_both AS DOUBLE) /
         |      CAST(n_lexical + n_semantic - n_both AS DOUBLE) END
         |    AS pair_jaccard
         |FROM t""".stripMargin,

    // Brute pair set as ground truth, blocked pair set as candidates.
    "dedup_embedding_lsh_recall" ->
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |truth AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM ev a JOIN ev b ON a.vec_id < b.vec_id
         |  WHERE ${VectorOps.cosineSql("a.e", "b.e", 64)} >= $COSINE_NEAR),
         |bk AS (SELECT vec_id, e, ${VectorOps.signBucketSql("e", EMB_LSH_DIMS)} AS bucket FROM ev),
         |cand AS (SELECT a.vec_id AS la, c.vec_id AS lb
         |  FROM bk a JOIN bk c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
         |  WHERE ${VectorOps.cosineSql("a.e", "c.e", 64)} >= $COSINE_NEAR),
         |t AS (SELECT COUNT(*) AS n_truth,
         |    CAST(SUM(CASE WHEN la IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_found
         |  FROM truth LEFT JOIN cand ON vec_a = la AND vec_b = lb)
         |SELECT n_truth, n_found,
         |  CASE WHEN n_truth = 0 THEN NULL
         |    ELSE CAST(n_found AS DOUBLE) / CAST(n_truth AS DOUBLE) END
         |    AS recall
         |FROM t""".stripMargin,

    // Same bipartite band probe + the exact-containment reference; the
    // 3-gram band CTEs and the 5-gram containment CTEs coexist (d vs d5).
    "dedup_contamination_lsh" ->
      s"""WITH $minhashBandCtes,
         |cand AS (SELECT DISTINCT a.doc_id AS bench_id, b.doc_id AS doc_id
         |  FROM band a JOIN band b ON a.band_key = b.band_key
         |  WHERE a.doc_id < $N_BENCH AND b.doc_id >= $N_BENCH),
         |d5 AS (
         |  SELECT doc_id, ${shingleSql(5).replace("w", "string_split(text,' ')")} AS sh
         |  FROM documents WHERE len(string_split(text,' ')) >= 5),
         |bp AS (SELECT doc_id AS bench_id, unnest(sh) AS g FROM d5 WHERE doc_id < $N_BENCH),
         |bs AS (SELECT bench_id, COUNT(*) AS b_n FROM bp GROUP BY bench_id),
         |cp AS (SELECT doc_id, unnest(sh) AS g FROM d5 WHERE doc_id >= $N_BENCH),
         |jj AS (SELECT bench_id, doc_id, COUNT(*) AS n_shared
         |      FROM bp JOIN cp USING (g) GROUP BY 1, 2),
         |ex AS (SELECT bench_id, doc_id FROM jj JOIN bs USING (bench_id)
         |  WHERE CAST(n_shared AS DOUBLE) / b_n >= $CONTAIN_MIN),
         |t AS (SELECT (SELECT COUNT(*) FROM ex) AS n_exact,
         |  (SELECT COUNT(*) FROM cand) AS n_candidates,
         |  (SELECT COUNT(*) FROM ex JOIN cand USING (bench_id, doc_id))
         |    AS n_found)
         |SELECT n_exact, n_candidates, n_found,
         |  CAST(n_found AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall
         |FROM t""".stripMargin
  )
}
