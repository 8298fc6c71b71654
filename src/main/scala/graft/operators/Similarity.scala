package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{GraftExtensions, GraftFunctions, VectorOps}
import graft.sources.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * Three tiers, mirroring how ANN actually scales:
  *  1. `ann_cosine_topk` — brute force: broadcast the (small) query set
  *     against the corpus scan; one window per query for top-k. The
  *     corpus side never shuffles, so at 100 TB this is a single
  *     embarrassingly-parallel pass + a tiny top-k shuffle (k × queries
  *     rows).
  *  2. `ann_ivf_topk` — IVF: deterministic coarse centroids, each corpus
  *     vector assigned to its nearest centroid (one broadcast pass),
  *     queries probe the closest `nprobe` centroid lists, where the
  *     probe budget is a FRACTION of the cell count (see [[PROBE_FRAC]]
  *     for the measured reasoning). Search cost drops by
  *     ~|centroids|/nprobe; recall is approximate by design, measured
  *     by `ann_ivf_recall`, and the oracle implements the identical
  *     algorithm including the budget rule.
  *  3. `ann_lsh_bucket` — sign-bit LSH over fixed axis-aligned dims:
  *     candidates share the query's bucket (equi-join on bucket id — a
  *     hash-partitionable key at any scale).
  *
  * All cosines use VectorOps (float→double widening + sequential fold),
  * bitwise-identical to the DuckDB oracle.
  */
object Similarity {

  private[graft] val N_QUERIES = 10 // vec_id < 10 are the query vectors
  // hybrid fusion: keyword probe terms (the text family's standing
  // query), shortlist depth per modality
  private val FUSION_TOKS = Seq("dup", "spark", "table")
  private val FUSION_K = 50
  private val TOP_K = 5
  private val CENT_STRIDE = 50 // vec_id % 50 == 0 → k-means seed
  // Probe budget: ceil(PROBE_FRAC · cells), floored at PROBE_MIN — a
  // FRACTION, not an absolute, so the budget tracks the index as the
  // cell count grows with the corpus. Why this (measured, numpy mirror
  // of the exact algorithm over sf0.01/sf0.1): this synthetic corpus is
  // near-uniform in R^64 — no coarse cluster structure — so recall
  // roughly tracks the probed fraction (plus the locality Voronoi cells
  // do capture: nprobe=1 gives 0.22–0.36, well above the 1/cells
  // baseline). Per-query recall ≥ 0.8 costs ~19/40 cells at sf0.1 and
  // 8/10 at sf0.01 with 5 Lloyd passes; 0.55·cells clears sf0.1 with
  // margin. On clustered corpora the same target needs a small O(1)
  // probe count — MEASURED r15 (ann_clustered_ivf_probe_curve): the
  // clustered cohort reaches recall 1.0 at nprobe = 1 at sf0.01 and
  // nprobe = 4 at sf0.1, where this uniform corpus sits at 0.38 / 0.50
  // at the same budgets — the fraction is the honest price of uniform
  // data, not an IVF constant. (Farthest-point seeding was
  // also measured: no better than stride+Lloyd here.) The floor of 10
  // makes a ≤18-cell index degenerate to scanning every cell — the
  // correct regime for tiny corpora, where coarse quantization has
  // nothing to prune and partial probes just lose recall (sf0.001's
  // 10-cell index showed 0.6 on one query at 8 probes).
  private val PROBE_FRAC = 0.55
  private val PROBE_MIN = 10
  private val REFINE_ITERS = 5 // Lloyd refinement passes over the seeds
  private val DIM = 64
  private val LSH_DIMS = Seq(1, 9, 17, 25, 33, 41, 49, 57) // 1-based dims

  /** codegen'd native kernel (identical numerics to VectorOps.cosine). */
  private def cos(a: Column, b: Column): Column = GraftFunctions.cosineSim(a, b)

  /** ann_covariance exactness gate: every per-(i,j) partial sum on the
    * 2^40 product grid is bounded by n·2^40 in magnitude (|x| ≤ 1), so
    * the LONG accumulation is exact iff n·2^40 < 2^63 ⇔ n ≤ 2^23 − 1 =
    * 8,388,607 rows. A bigger corpus must fail FAST and LOUD here — a
    * silent wrap would corrupt every covariance cell while still
    * producing plausible-looking numbers. The scale path past the bound
    * keeps the same grid and the same answer: shard rows, accumulate
    * per-shard LONG (n, Σx_i, Σx_j, Σx_i·x_j), merge shards exactly.
    */
  private[graft] val COV_MAX_ROWS: Long = (1L << 23) - 1
  private[graft] def covarianceRowBound(n: Long): Unit =
    require(n <= COV_MAX_ROWS,
      s"ann_covariance integer-grid bound exceeded: $n rows > $COV_MAX_ROWS " +
        "(n·2^40 would overflow LONG; shard-and-merge the moment sums or " +
        "drop to a coarser grid)")

  /** Sharded variant's bound: each shard (vec_id % COV_SHARDS, dense ids
    * ⇒ near-uniform) accumulates its own LONG sums, and shard totals
    * merge through DECIMAL(38,0) — exact at any count — so the corpus
    * cap multiplies by the shard count. The conservative uniform-shard
    * assumption is stated rather than measured; a pathological id
    * distribution should raise COV_SHARDS, not trust luck.
    */
  private[graft] val COV_SHARDS = 32
  private[graft] def covarianceShardBound(n: Long): Unit =
    require(n <= COV_MAX_ROWS * COV_SHARDS,
      s"ann_covariance_sharded bound exceeded: $n rows > " +
        s"${COV_MAX_ROWS * COV_SHARDS} (raise COV_SHARDS; the decimal " +
        "merge itself never overflows)")

  /** The clustered-cohort convention (r14 verdict #1): every graph-tier
    * conclusion through r14 was measured on near-uniform R^64 only, and
    * the code's own comments warned that real embedding corpora — the
    * clustered, low-intrinsic-dimension kind — behave differently. The
    * second arm is a DETERMINISTIC clustered cohort synthesized from
    * the corpus's own columns (the multimodal synthesis convention — no
    * RNG anywhere): each vector is blended with its label's ANCHOR (the
    * label's smallest-vec_id embedding), `e_clustered = anchor + e`.
    * Ten labels → ten genuine clusters: within-cluster cosine ≈
    * (1 + x·y)/2 ≈ 0.5 and up (anchors share), cross-cluster ≈ 0
    * (anchors near-orthogonal in R^64) — strong structure with honest
    * spread, and the addition is a single exactly-mirrored IEEE op per
    * element (`zip_with` here, `list_transform` in the oracle).
    *
    * Plumbing: a dir suffixed [[CLUSTERED_SFX]] routes [[emb]] to the
    * blended relation, so EVERY helper, memo, and measurement — Lloyd,
    * semdedup blocking, edge builds, beam searches, the incremental
    * arms — runs the IDENTICAL code over either cohort; the cohort A/B
    * cannot drift structurally because there is exactly one
    * implementation. Memos key by the (suffixed) dir string, so the two
    * cohorts never share derived state.
    */
  private[graft] val CLUSTERED_SFX = "#clustered"

  private def clusteredDir(d: String): String = d + CLUSTERED_SFX

  /** Shared float→double projection, persisted: every ANN query derives
    * both its query side and corpus side from this one relation, and
    * Spark's CacheManager matches the identical analyzed plan across the
    * whole family — one scan + widen pass per session, not two per query.
    * A [[CLUSTERED_SFX]]-suffixed dir yields the clustered cohort
    * (anchor-blended vectors — scaladoc above) over the same ids.
    */
  /** The labeled view of either cohort — (vec_id, label, e) — and the
    * ONE implementation of the clustered blend (anchor = the label's
    * smallest-vec_id embedding; e = anchor + e elementwise). [[emb]]
    * projects the label away for the main ANN surface; the
    * label-codebook studies (ann_opq_rotation's cohort arms) read it
    * directly, so the blend cannot drift between consumers.
    */
  private def labeledEmb(s: SparkSession, d: String): DataFrame = {
    if (d.endsWith(CLUSTERED_SFX)) {
      val ev = Tables.embeddings(s, d.stripSuffix(CLUSTERED_SFX))
        .transform(Tables.spread(_, col("vec_id")))
        .select(col("vec_id"), col("label"),
          VectorOps.asDouble(col("embedding")).as("e0"))
      val wA = Window.partitionBy("label").orderBy("vec_id")
      val anchors = ev
        .withColumn("arn", row_number().over(wA))
        .filter(col("arn") === 1)
        .select(col("label"), col("e0").as("ae"))
      ev.join(broadcast(anchors), "label")
        .select(col("vec_id"), col("label"),
          zip_with(col("ae"), col("e0"), _ + _).as("e"))
    } else
      Tables.embeddings(s, d)
        .transform(Tables.spread(_, col("vec_id")))
        .select(col("vec_id"), col("label"),
          VectorOps.asDouble(col("embedding")).as("e"))
  }

  private def emb(s: SparkSession, d: String): DataFrame =
    labeledEmb(s, d).select("vec_id", "e")
      .transform(graft.CachePool.persist)

  private def queriesDf(s: SparkSession, d: String): DataFrame =
    emb(s, d).filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("e").as("qe"))

  private def corpusDf(s: SparkSession, d: String): DataFrame =
    emb(s, d).filter(col("vec_id") >= N_QUERIES)

  /** Three power iterations from v₀ = all-ones on the exact integer-grid
    * covariance (collected at planner size, d² doubles). Every fold is
    * an ascending-index seedless reduceLeft — token-for-token the
    * oracle's `list_reduce(list(... ORDER BY ...))`, so the returned
    * (eigenvector, Rayleigh quotient, matrix) are bitwise-mirrored.
    * Shared by ann_top_component and ann_anisotropy_ratio, which also
    * share the collected O(d²) covariance so its agg runs once per
    * corpus per release window.
    */
  private def powerIterate(s: SparkSession, d: String)
      : (Array[Double], Double, Array[Array[Double]]) = {
    val rows = graft.CachePool.shared(s, d, "ann_covariance")(
      queries("ann_covariance")(s, d).select("dim_i", "dim_j", "cov")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    val C = Array.ofDim[Double](DIM, DIM)
    rows.foreach { case (il, jl, c) =>
      val (i, j) = (il.toInt, jl.toInt)
      C(i)(j) = c; C(j)(i) = c
    }
    def mul(v: Array[Double]): Array[Double] =
      Array.tabulate(DIM)(i =>
        (0 until DIM).map(j => C(i)(j) * v(j)).reduceLeft(_ + _))
    var v = Array.fill(DIM)(1.0)
    for (_ <- 1 to 3) {
      val w = mul(v)
      val nrm = math.sqrt((0 until DIM).map(i => w(i) * w(i)).reduceLeft(_ + _))
      v = w.map(_ / nrm)
    }
    val wl = mul(v)
    val lambda = (0 until DIM).map(i => v(i) * wl(i)).reduceLeft(_ + _)
    (v, lambda, C)
  }

  /** PQ design point: M subspaces of DIM/M dims each. Two codebook
    * tiers exist: the LABEL baseline (per-label centroids restricted
    * to each subspace — the sizing study's cheap reference point) and
    * the TRAINED tier ([[pqTrainedSeq]]) — real per-subspace Lloyd
    * codebooks at k ≤ [[PQ_K]], which is what [[queries]]'
    * `ann_ivfadc_topk` ships.
    */
  private val PQ_M = 8
  private val PQ_SUB = 8 // DIM / PQ_M

  /** Trained-codebook size per subspace: 256 codewords = one BYTE per
    * subspace per vector, so an M=8 code is exactly 8 bytes — the
    * standard FAISS PQ8 budget. Seeds are stride-sampled corpus
    * sub-vectors (deterministic, oracle-expressible where k-means++ is
    * seed-dependent) refined by [[PQ_TRAIN_ITERS]] Lloyd passes of the
    * same decimal-exact mean machinery as the coarse centroids. At the
    * test SFs the training input is the whole corpus (n < the 39·k
    * FAISS training floor, so there is nothing to subsample); at 100 TB
    * you cap the training input at ~39·k·M sub-vectors with a
    * deterministic hash-sample — training cost is O(sample·k·iters),
    * independent of corpus size, and encode stays O(n·k·M).
    */
  private val PQ_K = 256
  private val PQ_TRAIN_ITERS = 2

  /** IVFADC refine width: ADC ranks this many candidates per query,
    * and only they are re-scored at full precision (FAISS's k_factor
    * refine; 40·TOP_K here). Near-uniform random embeddings are PQ's
    * WORST case (no cluster structure for the codebooks to exploit):
    * under round 10's 10-codeword label-baseline codebooks, raw ADC
    * ordering alone measured recall 0.0–0.2 and end-to-end 0.68 / 0.76
    * / 0.52 — the measured evidence that the baseline codebooks were
    * too small. With the TRAINED k ≤ 256 codebooks ([[pqTrainedSeq]])
    * at the same 8-byte code budget, end-to-end recall measures
    * 1.0 / 1.0 / 0.92 at the three SFs against the brute-force ground
    * truth (ann_ivfadc_recall). The residual sf0.1 loss is one query
    * at 0.8 whose fifth neighbor the ADC ordering ranks below the
    * shortlist: widening 100 → 200 bought 0.90 → 0.92 and a third
    * Lloyd pass bought nothing (both measured) — the honest remaining
    * price of 8-byte codes on uniform data. The r16 clustered-cohort
    * arm (`ann_clustered_ivfadc_recall` / `_refine_curve`) closes the
    * sizing question from the other side: on clustered
    * (real-embedding-shaped) data the SAME codebooks reach recall 1.0
    * at every query at both test SFs, saturating at refine depth 100 —
    * the uniform corpus was the binding case, not the codebook size.
    * All numbers are measured per run by the recall queries, never
    * assumed.
    *
    * Since r17 this constant is the POOL bound — the deepest point of
    * [[ADC_DEPTHS]] and the cap on full-precision re-scores — while
    * the depth `ann_ivfadc_topk` actually re-ranks at is MEASURED per
    * cohort from the refine curve ([[adcShortlist]]): the r16
    * codebook-sizing flip acted on, as a knob instead of a sentence.
    */
  private val ADC_SHORTLIST = 200

  /** PQ codebook rows (subspace, codeword label, codeword) — memoized
    * per corpus like [[centroidSeq]]: O(labels·DIM) collected once,
    * shared by ann_pq_error and the IVFADC search pair.
    */
  private def pqCodebookSeq(s: SparkSession, d: String): Seq[(Int, Int, Seq[Double])] =
    graft.CachePool.shared(s, d, "ann_pq_codebook") {
      val Q = 1073741824.0 // 2^30
      val means = Tables.embeddings(s, d)
        .select(col("label"), VectorOps.asDouble(col("embedding")).as("e"))
        .select(col("label"), posexplode(col("e")).as(Seq("dim", "val")))
        .groupBy("label", "dim")
        .agg((sum(floor(col("val") * Q + 0.5)).cast("double") / Q /
          count(lit(1)).cast("double")).as("mval"))
        .collect()
      means.groupBy(_.getInt(0)).toSeq.flatMap { case (l, rows) =>
        val c = rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        (0 until PQ_M).map(sId =>
          (sId, l, c.slice(sId * PQ_SUB, (sId + 1) * PQ_SUB)))
      }
    }

  private def pqCodebookDf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    pqCodebookSeq(s, d).toDF("s", "label", "cw")
  }

  /** TRAINED per-subspace PQ codebooks — real Lloyd k-means in each
    * subspace (rows: subspace, codeword id, codeword), memoized like
    * [[centroidSeq]]. Round 10 measured what the 10-codeword label
    * baseline costs on this near-uniform corpus: IVFADC recall
    * 0.68/0.76/0.52 vs plain IVF's 1.0. The fix is codebook SIZE, not
    * machinery: k ≤ [[PQ_K]] stride-seeded codewords per subspace at
    * the same 8-byte code budget. Seeds are the sub-vectors of every
    * `stride`-th corpus vector with stride = ceil(n / PQ_K) (k fills
    * toward 256 as the corpus grows); each pass assigns every
    * sub-vector to its nearest codeword (fixed-order L2 fold, ties to
    * the smallest id — engine-identical) and recentres through the
    * exact decimal sums, so Spark and the unrolled DuckDB chain produce
    * bitwise-identical codebooks. Codewords that attract no vectors
    * simply drop out of the next pass (both engines agree). Collected
    * size is O(M·k·PQ_SUB) doubles ≈ 16K values — planner-sized, like
    * every other centroid collect here. Queries are EXCLUDED from
    * training (they are the search workload, not the corpus).
    */
  private def pqTrainedSeq(s: SparkSession, d: String): Seq[(Int, Long, Seq[Double])] =
    graft.CachePool.shared(s, d, "ann_pq_trained") {
      import s.implicits._
      val corpus = corpusDf(s, d)
      val stride = math.max(1L,
        math.ceil(corpus.count().toDouble / PQ_K).toLong)
      val subs = corpus.select(col("vec_id"), posexplode(array(
          (0 until PQ_M).map(i => slice(col("e"), i * PQ_SUB + 1, PQ_SUB)): _*))
        .as(Seq("s", "sub")))
        .transform(graft.CachePool.persist) // seeds + one scan per pass
      var cb = subs.filter(col("vec_id") % stride === 0)
        .select(col("s"), col("vec_id").as("plabel"), col("sub").as("cw"))
      for (_ <- 1 to PQ_TRAIN_ITERS) {
        val w = Window.partitionBy("vec_id", "s")
          .orderBy(col("dist"), col("plabel"))
        val assigned = subs.join(broadcast(cb), "s")
          .withColumn("dist", GraftFunctions.l2DistSq(col("sub"), col("cw")))
          .withColumn("arn", row_number().over(w))
          .filter(col("arn") === 1)
          .select(col("s"), col("plabel"), col("sub"))
        // decimal-exact sums ÷ double count — same portability bound as
        // centroidSeq's scale-10 comment (values ≤ ~10, rows/codeword
        // ≪ 2^43 at every test SF)
        val means = assigned
          .select(col("s"), col("plabel"),
            posexplode(col("sub")).as(Seq("dim", "val")))
          .groupBy("s", "plabel", "dim")
          .agg((sum(col("val").cast("decimal(38,10)")).cast("double") /
            count(lit(1)).cast("double")).as("mval"))
          .collect()
        val rebuilt = means.groupBy(r => (r.getInt(0), r.getLong(1))).toSeq
          .map { case ((sid, pl), rows) =>
            (sid, pl, rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq)
          }
        cb = rebuilt.toDF("s", "plabel", "cw")
      }
      cb.as[(Int, Long, Seq[Double])].collect().toSeq
    }

  private def pqTrainedDf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    pqTrainedSeq(s, d).toDF("s", "plabel", "cw")
  }

  /** The Lloyd refinement loop itself, factored out of [[centroidSeq]]
    * so the incremental-maintenance A/B ([[incCents]]) trains its two
    * centroid sets through the IDENTICAL code path — any numeric or
    * ordering change here changes every consumer at once, which is the
    * point. `assignInput` is the corpus the passes assign (never
    * shuffled — one broadcast join per pass); `seeds` is the initial
    * (cent_id, ce) relation.
    */
  private def lloydRefine(s: SparkSession, assignInput: DataFrame,
                          seeds: DataFrame): Seq[(Long, Seq[Double])] = {
    import s.implicits._
    var cents = seeds
    for (_ <- 1 to REFINE_ITERS) {
      val wA = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cent_id"))
      val assigned = assignInput.join(broadcast(cents))
        .withColumn("ccos", cos(col("e"), col("ce")))
        .withColumn("arn", row_number().over(wA))
        .filter(col("arn") === 1)
        .select(col("cent_id"), col("e"))
      // Scale 10, not 18: the decimal→double cast is only portable
      // while the SUM's unscaled value stays under 2^53 (Spark
      // single-rounds the BigDecimal; DuckDB converts int128 then
      // divides by 10^scale — two roundings, 1 ulp apart beyond
      // that). |value| ≤ ~10 and ≤ ~50k rows/centroid keep
      // sum·10^10 < 9·10^15, so the conversion is EXACT in both
      // engines at every test SF (rescale if corpora grow 100×).
      val means = assigned
        .select(col("cent_id"), posexplode(col("e")).as(Seq("dim", "val")))
        .groupBy("cent_id", "dim")
        .agg((sum(col("val").cast("decimal(38,10)")).cast("double") /
          count(lit(1)).cast("double")).as("mval"))
        .collect()
      val rebuilt = means.groupBy(_.getLong(0)).toSeq.map { case (cid, rows) =>
        (cid, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
      }
      cents = rebuilt.toDF("cent_id", "ce")
    }
    cents.as[(Long, Seq[Double])].collect().toSeq
  }

  /** IVF coarse centroids: stride-sampled seeds refined by
    * [[REFINE_ITERS]] Lloyd passes (assign every corpus vector to its
    * nearest centroid, recentre on the element-wise mean). Cosine
    * ranking is scale-invariant, so the plain mean IS the spherical
    * k-means centroid for ranking purposes — no normalization step.
    *
    * Measured against the brute-force ground truth: refinement buys
    * recall-per-probe — at sf0.1 the probe count where every query
    * reaches recall ≥ 0.8 drops from 25/40 cells (2 passes) to 19/40
    * (5 passes); at sf0.01 mean recall 0.8 moves from 6 to 5 probes.
    *
    * Scale shape: each pass is one broadcast join over the corpus (the
    * corpus never shuffles) + a (cent_id, dim)-keyed hash aggregation
    * whose output is k·d rows. Means are summed through decimal (exact,
    * order-independent) and divided as doubles so Spark and the DuckDB
    * oracle produce bitwise-identical centroids. The k·d means are
    * collected to the driver to rebuild array rows — k ≪ n is the
    * definition of coarse quantization, so this is O(centroids), not
    * O(data); the rebuilt table is broadcast right back. Both IVF
    * queries (plus the recall query, twice) construct the centroids, so
    * the k·d collected values are shared and the passes run once per
    * release window.
    */
  private def centroidSeq(s: SparkSession, d: String): Seq[(Long, Seq[Double])] =
    graft.CachePool.shared(s, d, "ann_centroids")(
      lloydRefine(s, corpusDf(s, d),
        emb(s, d).filter(col("vec_id") % CENT_STRIDE === 0)
          .select(col("vec_id").as("cent_id"), col("e").as("ce"))))

  private def centroidsDf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    centroidSeq(s, d).toDF("cent_id", "ce")
  }

  /** Probe budget for this corpus' index — see [[PROBE_FRAC]]. */
  private def nprobe(s: SparkSession, d: String): Int =
    math.max(PROBE_MIN, math.ceil(PROBE_FRAC * centroidSeq(s, d).size).toInt)

  /** The refine-depth grid the curve measures and the shipped
    * shortlist derives from ([[adcShortlist]]); the deepest point is
    * [[ADC_SHORTLIST]], the pool bound.
    */
  private val ADC_DEPTHS = Seq(10, 25, 50, 100, 200)

  /** The IVFADC scored pool — PQ-encode the corpus against the trained
    * codebooks, IVF-assign + probe, rank probed candidates by ADC, and
    * re-score the top [[ADC_SHORTLIST]] (the POOL bound = the grid's
    * deepest point) at full precision, keeping each candidate's ADC
    * rank `srn`. ONE relation, persisted and shared per corpus (r17 —
    * previously ann_ivfadc_topk and _refine_curve each rebuilt the
    * whole encode+probe+ADC chain), consumed by the topk re-rank at
    * the derived depth, the refine curve's five re-ranks, and the
    * depth knob itself.
    */
  private def ivfadcScored(s: SparkSession, d: String): DataFrame =
    graft.CachePool.shared(s, d, "ann_adc_scored") {
      val cents = centroidsDf(s, d)
      def l2(a: Column, b: Column) = GraftFunctions.l2DistSq(a, b)
      // PQ-encode the corpus: nearest TRAINED codeword per (vector,
      // subspace) — the k ≤ 256 Lloyd codebooks, not the 10-codeword
      // label baseline (round 10 measured that baseline at recall
      // 0.68/0.76/0.52; same 8-byte budget, real codebooks close it)
      val wCode = Window.partitionBy("vec_id", "s")
        .orderBy(col("dist"), col("plabel"))
      val recon = corpusDf(s, d)
        .select(col("vec_id"), posexplode(array(
          (0 until PQ_M).map(i => slice(col("e"), i * PQ_SUB + 1, PQ_SUB)): _*))
          .as(Seq("s", "sub")))
        .join(broadcast(pqTrainedDf(s, d)), "s")
        .withColumn("dist", l2(col("sub"), col("cw")))
        .withColumn("crn", row_number().over(wCode))
        .filter(col("crn") === 1)
        .groupBy("vec_id")
        .agg(flatten(transform(
          array_sort(collect_list(struct(col("s"), col("cw")))),
          x => x.getField("cw"))).as("recon"))
      // IVF assignment + probe, exactly the ann_ivf_topk shapes
      val wAssign = Window.partitionBy("vec_id")
        .orderBy(col("ccos").desc, col("cent_id"))
      val assign = corpusDf(s, d)
        .join(broadcast(cents))
        .withColumn("ccos", cos(col("e"), col("ce")))
        .withColumn("arn", row_number().over(wAssign))
        .filter(col("arn") === 1)
        .select(col("vec_id"), col("cent_id"))
      val wProbe = Window.partitionBy("q_id")
        .orderBy(col("qcos").desc, col("cent_id"))
      val probe = queriesDf(s, d)
        .join(broadcast(cents))
        .withColumn("qcos", cos(col("qe"), col("ce")))
        .withColumn("prn", row_number().over(wProbe))
        .filter(col("prn") <= nprobe(s, d))
        .select(col("q_id"), col("qe"), col("cent_id"))
      // ADC pool: approximate scores rank ADC_SHORTLIST candidates per
      // query — only THESE fetch their full-precision vectors for the
      // re-rank (the FAISS refine stage). At 100 TB the ADC pass
      // touches 8-byte codes; the expensive 256-byte rows are read for
      // ADC_SHORTLIST·|queries| candidates, not the probed cells.
      val wShort = Window.partitionBy("q_id")
        .orderBy(col("adc").desc, col("vec_id"))
      probe.join(assign, "cent_id")
        .join(recon, "vec_id")
        .withColumn("adc", cos(col("qe"), col("recon")))
        .withColumn("srn", row_number().over(wShort))
        .filter(col("srn") <= ADC_SHORTLIST)
        .select(col("q_id"), col("qe"), col("vec_id"), col("srn"))
        .join(corpusDf(s, d), "vec_id")
        .withColumn("cosine", cos(col("qe"), col("e")))
        .select("q_id", "vec_id", "cosine", "srn")
        .transform(graft.CachePool.persist)
    }

  /** The brute-force exact top-K ground truth (q_id, vec_id) — the
    * declared whitelisted baseline every recall arm joins against,
    * shared per corpus so the four graph curves, the refine curve, and
    * the depth knob share one persisted relation.
    */
  private def annExactTopK(s: SparkSession, d: String): DataFrame =
    graft.CachePool.shared(s, d, "ann_exact")(
      topK(corpusDf(s, d).join(broadcast(queriesDf(s, d)))
          .withColumn("cosine", cos(col("qe"), col("e"))))
        .select("q_id", "vec_id")
        .transform(graft.CachePool.persist))

  /** MEASURED refine depth (r16 verdict #5): the smallest grid depth
    * whose exact-hit count reaches ≥ 99% of the deepest depth's — the
    * knob `ann_ivfadc_topk` ships instead of one fleet-wide constant,
    * derived per cohort from the same curve `ann_ivfadc_refine_curve`
    * reports (the r16 flip showed the right depth is a property of
    * corpus shape: clustered saturates at half the uniform shortlist).
    * Integer-hit comparison (hits·100 ≥ 99·max), no IEEE boundary; an
    * empty corpus yields max = 0 and the shallowest depth. One small
    * aggregate per grid point over the persisted pool, memoized per
    * dir — the cheap experiment run once per corpus, which is exactly
    * how a 100 TB deployment should pick its refine budget. Measured
    * picks (r17): uniform 100 / 50 / 200 at sf0.001/0.01/0.1 (the
    * sf0.1 curve still climbs on its last doubling, so the knob keeps
    * the full pool); clustered 25 / 25 / 100 — half to an eighth of
    * the uniform budget at the same recall, the corpus-shape
    * adaptivity the constant could not express. End-to-end recall
    * (ann_ivfadc_recall) is unchanged at every SF on both cohorts by
    * construction of the ≥99% rule.
    */
  private def adcShortlist(s: SparkSession, d: String): Int =
    graft.CachePool.shared(s, d, "ann_adc_depth") {
      val sc = ivfadcScored(s, d)
      val exact = annExactTopK(s, d)
      // one depth-tagged job for the whole grid (r17 — was one
      // join+count per grid point): the ann_ivfadc_refine_curve fusion,
      // collected as the planner-sized (depth, hits) pairs the rule
      // reads. A depth with no hits is simply absent → 0.
      val w = Window.partitionBy("dp", "q_id")
        .orderBy(col("cosine").desc, col("vec_id"))
      val byDepth = exact.join(
        sc.withColumn("dp", explode(filter(
            array(ADC_DEPTHS.map(x => lit(x)): _*), b => b >= col("srn"))))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= TOP_K)
          .select("dp", "q_id", "vec_id"),
        Seq("q_id", "vec_id"))
        .groupBy("dp").agg(count(lit(1)).as("h"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val h = ADC_DEPTHS.map(dp => dp -> byDepth.getOrElse(dp, 0L))
      val maxH = h.last._2
      h.collectFirst { case (dp, c) if c * 100L >= 99L * maxH => dp }
        .getOrElse(ADC_DEPTHS.last)
    }

  /** Incremental-maintenance fence (the `dedup_incremental`
    * snapshot-vs-corpus convention carried to the vector tier): the
    * newest ~1/[[INC_BATCH_DIV]] of the corpus BY vec_id plays the
    * incoming append batch; everything at or below the fence is the
    * standing corpus the index was trained on. Ids, not hashes, because
    * a vector corpus is APPEND-heavy — the batch is literally the
    * newest ids, which is also what makes the fence a pure scalar both
    * engines derive from the same two aggregates (max, count).
    */
  private val INC_BATCH_DIV = 10

  private[graft] def incFence(s: SparkSession, d: String): Long =
    graft.CachePool.shared(s, d, "ann_inc_fence") {
      val r = corpusDf(s, d)
        .agg(max(col("vec_id")), count(lit(1))).head()
      // empty corpus (truncated table / empty partition): MAX is NULL;
      // any fence works since both cohorts are empty — use -1
      if (r.isNullAt(0)) -1L
      else r.getLong(0) - math.ceil(r.getLong(1).toDouble / INC_BATCH_DIV).toLong
    }

  /** Nearest-standing-centroid assignment — the incremental append's
    * whole per-batch cost: ONE broadcast join (the centroid set is
    * O(k·d) doubles at any corpus size) + a per-vector argmax, no
    * shuffle of the vectors, no Lloyd pass. Exposed for `foreachBatch`
    * ingestion (StreamingSpec composes it with
    * [[graft.operators.Dedup.incrementalMatches]]); the named query
    * uses the same function for both of its assignment arms.
    * Ties break to the smaller cent_id — the family's argmax rule.
    *
    * Contract: `cents` must be NON-EMPTY. The unconditioned cross join
    * would otherwise return zero rows for every vector — a silent
    * conservation failure in any "every doc accounted for" ingestion
    * path (r14 advice) — so an empty centroid set fails fast here. The
    * check is one tiny action on a planner-sized relation (centroid
    * sets are O(k·d) collected values by construction).
    */
  def assignToCells(vectors: DataFrame, cents: DataFrame): DataFrame = {
    GraftExtensions.install(vectors.sparkSession)
    require(!cents.isEmpty,
      "assignToCells: empty centroid set — every vector would silently " +
        "drop out of the assignment join; train or seed centroids first")
    assignToCellsUnchecked(vectors, cents)
  }

  /** The assignment body without the non-empty contract — for the
    * NAMED queries only, where an empty corpus trains an empty centroid
    * set and an empty report IS the correct answer (the EmptyCorpusSpec
    * convention). External ingestion goes through [[assignToCells]].
    */
  private def assignToCellsUnchecked(vectors: DataFrame, cents: DataFrame)
      : DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cent_id"))
    vectors.join(broadcast(cents))
      .withColumn("ccos", cos(col("e"), col("ce")))
      .withColumn("arn", row_number().over(w))
      .filter(col("arn") === 1)
      .select(col("vec_id"), col("cent_id"))
  }

  /** The incremental A/B's two centroid sets, shared per corpus like
    * [[centroidSeq]] (collected planner-sized values): STANDING =
    * Lloyd over the standing corpus only (what a deployed index has),
    * FULL = the same seeds re-refined over standing ∪ batch (what a
    * full rebuild would produce). Both arms share the SEED set (the
    * standing stride sample) deliberately: k is held fixed and cell
    * ids correspond 1:1, so "drift" is the honest question — which
    * vectors would change cells if we re-trained — not an id-matching
    * puzzle between two unrelated seedings.
    */
  private def incCents(s: SparkSession, d: String)
      : (Seq[(Long, Seq[Double])], Seq[(Long, Seq[Double])]) =
    graft.CachePool.shared(s, d, "ann_inc_cents") {
      val fence = incFence(s, d)
      val standing = corpusDf(s, d).filter(col("vec_id") <= fence)
      val seeds = standing.filter(col("vec_id") % CENT_STRIDE === 0)
        .select(col("vec_id").as("cent_id"), col("e").as("ce"))
      (lloydRefine(s, standing, seeds),
        lloydRefine(s, corpusDf(s, d), seeds))
    }

  /** [[SEMDEDUP_PROBES]]-nearest-cell multi-probe assignment against an
    * arbitrary centroid set — [[semdedupAssign]]'s shape with the
    * centroids a parameter, for the incremental arms.
    */
  private def probeAssign(vectors: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cent_id"))
    vectors.join(broadcast(cents))
      .withColumn("ccos", cos(col("e"), col("ce")))
      .withColumn("arn", row_number().over(w))
      .filter(col("arn") <= SEMDEDUP_PROBES)
      .select(col("vec_id"), col("e"), col("cent_id"))
  }

  /** ann_semdedup near-dup bar — the same threshold the dedup family's
    * brute-force query (Dedup.COSINE_NEAR) uses, so recall is measured
    * against the identical pair definition.
    */
  private val SEMDEDUP_T = 0.45

  /** Multi-probe width: each vector joins its SEMDEDUP_PROBES nearest
    * clusters for the pair search (primary assignment still owns it
    * for the per-cluster report). Single-probe misses every pair whose
    * argmax centroids differ — on this near-uniform corpus that is
    * MOST of them (measured recall 0.25–0.57 at P=1); P=4 measures
    * 1.0 / 1.0 / 0.87 at sf0.001/0.01/0.1 for ~P² the candidate
    * volume — the same uniform-data price, and the same measured-
    * fraction reasoning, as [[PROBE_FRAC]]. On the r15 clustered
    * cohort (ann_clustered_semdedup_recall, sf0.1) the same P=4
    * blocking captures 0.9992 of 148k true pairs — near-dup mass
    * aligns with the Voronoi cells, the regime SemDeDup was designed
    * for; the uniform 0.87 is the honest worst case.
    */
  private val SEMDEDUP_PROBES = 4

  /** Every vector (queries included — they are just vectors here) →
    * its SEMDEDUP_PROBES nearest Lloyd-refined centroids, with probe
    * rank. One broadcast join + a P-row TopKPerKey per vector;
    * persisted because the pair join consumes it twice plus the
    * primary-membership pass.
    */
  private def semdedupAssign(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cent_id"))
    emb(s, d)
      .join(broadcast(centroidsDf(s, d)))
      .withColumn("ccos", cos(col("e"), col("ce")))
      .withColumn("arn", row_number().over(w))
      .filter(col("arn") <= SEMDEDUP_PROBES)
      .select(col("vec_id"), col("e"), col("cent_id"), col("arn"))
      .transform(graft.CachePool.persist)
  }

  /** Qualifying pairs (vec_a < vec_b, cosine ≥ T) that share at least
    * one probed cluster — an equi-join on cent_id, deduped to one row
    * per pair with the smallest shared cluster as its attribution.
    * Pair work is bounded by Σ(probed cluster size)² ≈ P²·n·(n/k).
    */
  private def semdedupPairs(s: SparkSession, d: String): DataFrame = {
    val sd = semdedupAssign(s, d)
    val a = sd.select(col("cent_id"), col("vec_id").as("vec_a"), col("e").as("e_a"))
    val b = sd.select(col("cent_id"), col("vec_id").as("vec_b"), col("e").as("e_b"))
    a.join(b, Seq("cent_id")).filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine", cos(col("e_a"), col("e_b")))
      .filter(col("cosine") >= SEMDEDUP_T)
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(min(col("cent_id")).as("cent_id"))
  }

  private def topK(scored: DataFrame): DataFrame = {
    // written as the window formulation; RankLimitRewrite turns it into
    // the two-phase TopKPerKey operator (map-side k-heaps prune before
    // the exchange; the Window above only re-derives rn over ≤ k rows)
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TOP_K)
      .select("q_id", "vec_id", "cosine", "rn")
  }

  /** Graph-walk index tier (HNSW-class, r13): a DETERMINISTIC
    * small-world layer. A full HNSW is insertion-order- and seed-bound
    * (level draws, dynamic candidate lists) — oracle-hostile — but its
    * three load-bearing ideas survive determinization: (1) a bounded-
    * degree k-NN GRAPH, built from the semdedup multi-probe blocked
    * candidates (pairs sharing a probed coarse cell — the same Σ|cell|²
    * bound as the pair search, never all-pairs), each vector keeping
    * its [[GRAPH_DEGREE]] most-similar candidates, then SYMMETRIZED;
    * (2) a coarse ENTRY layer — HNSW's upper levels collapsed into one
    * deterministic stride sample whose stride is DERIVED from the
    * corpus count (stride = ceil(n / [[GRAPH_ENTRY_BUDGET]]), the
    * SampleRates convention: one planner-sized count, memoized per
    * dir), so the entry layer is a FIXED ≈budget-row slice at any
    * corpus size — the stride grows with the corpus exactly like
    * HNSW's level count. The query brute-scans only that slice and
    * seeds the beam with its best hits, so the walk STARTS near the
    * target at any corpus size (a fixed single entry was measured
    * first: recall 0.52 → 0.36 collapsing from sf0.01 to sf0.1 at
    * beam 8 — a fixed hop budget cannot cross a 10×-bigger graph; a
    * fixed STRIDE was shipped r13 and flagged: its scan grew O(n/64)
    * per query, the opposite of the hierarchy it stood in for); (3)
    * greedy BEAM search, [[GRAPH_HOPS]] unrolled best-first rounds:
    * expand the beam's edges, score, keep the best beam-width of
    * everything visited (ties to the smaller vec_id — a pure function
    * of the data). At 100 TB the per-query costs are the entry scan
    * (≈[[GRAPH_ENTRY_BUDGET]] rows, corpus-size-independent) plus
    * O(hops · beam · degree) edge rows + full vectors, independent of
    * cell sizes — vs IVF's whole probed cells — at the price of the
    * one-off graph build. Every recall/cost number is measured
    * (ann_graph_recall / ann_graph_beam_curve), never assumed:
    * recall@5 at beam 8 is 0.98 / 0.98 / 0.68 at sf0.001/0.01/0.1
    * (beam 16: 1.0 / 1.0 / 0.90) for ~600–1200 candidates scored per
    * query — 1–2% of the sf0.1 corpus, where the IVF tier's
    * ≥0.8-per-query point costs ~half the cells on this same
    * near-uniform data (PROBE_FRAC's measured story). Those are the
    * WORST-case numbers: on the r15 clustered cohort
    * (ann_clustered_beam_curve) the walk saturates at recall 0.96 from
    * beam 2 and 1.0 from beam 4 — navigable structure is what real
    * embedding corpora have and uniform R^64 lacks.
    */
  private val GRAPH_DEGREE = 8
  private val GRAPH_HOPS = 8
  private val GRAPH_BEAM = 8
  /** Rounds the layered arm spends on the MIDDLE layer before dropping
    * to the base graph (the remaining GRAPH_HOPS − this rounds) — the
    * total hop budget matches the flat walk so the curves compare
    * column-wise.
    */
  private val GRAPH_MID_HOPS = 3
  /** Entry-layer budget: the coarse hop-0 scan keeps n/stride ≈ this
    * many rows at ANY corpus size (stride = ceil(n / budget)). 32
    * matches r13's measured sf0.1 operating point (stride 64 on 1990
    * vectors ≈ 31 entries) while a 10× corpus now gets a 10× stride,
    * not a 10× scan.
    */
  private val GRAPH_ENTRY_BUDGET = 32
  /** HNSW-style hub prune cap for the A/B arm ([[graphEdgesPruned]]):
    * symmetrized per-node degree is capped at 2·G keeping the
    * most-similar links — the back-link prune HNSW applies to hubs.
    */
  private val GRAPH_PRUNE_CAP = 2 * GRAPH_DEGREE
  private val GRAPH_BEAMS = Seq(2, 4, 8, 16) // curve operating points

  // MMR re-rank design point: greedy picks from a first-stage shortlist
  private val MMR_SHORTLIST = 20
  private val MMR_K = 5

  /** Per-corpus derived entry stride (one tiny count job, shared). */
  private[graft] def graphStride(s: SparkSession, d: String): Long =
    graft.CachePool.shared(s, d, "ann_graph_stride")(math.max(1L, math.ceil(
      corpusDf(s, d).count().toDouble / GRAPH_ENTRY_BUDGET).toLong))

  private[graft] def graphEntryBudget: Int = GRAPH_ENTRY_BUDGET

  /** The bounded-degree k-NN graph over the corpus: per-source top-
    * [[GRAPH_DEGREE]] by exact cosine among the blocked candidates
    * (pairs sharing ≥ 1 of the [[SEMDEDUP_PROBES]] probed cells —
    * reuses the persisted semdedup assignment; a pair sharing several
    * cells dedups through max(sim), the values being identical), then
    * SYMMETRIZED: small-world links are undirected (the reverse edge is
    * what lets a walk back out of a local minimum — NSW/HNSW keep both
    * directions). Total edge volume is ≤ 2·n·G rows (still the
    * 8-bytes-per-edge index an executor holds) but PER-NODE degree is
    * G ≤ deg ≤ G + in-degree, and the in-degree is data-dependent — a
    * hub chosen by many others exceeds 2·G (ann_graph_degree measures
    * the histogram; HNSW prunes hub back-links for exactly this
    * reason, a refinement this deterministic layer skips and the
    * census makes visible instead). Directed-only was measured first:
    * mean recall@5 0.52 at beam 8 / 6 hops on sf0.01; the symmetrized
    * graph at 8 hops is what the shipped curve prices.
    */
  /** Blocked top-[[GRAPH_DEGREE]] directed edges: sources from
    * `srcAssign`, targets from `dstAssign` (pairs sharing a probed
    * cell). Factored out of the full-corpus build so the incremental
    * APPEND arm ([[queries]]' ann_incremental_graph) constructs its
    * batch edges through the identical candidate/top-G path.
    */
  private def topGEdges(srcAssign: DataFrame, dstAssign: DataFrame)
      : DataFrame = {
    val a = srcAssign
      .select(col("cent_id"), col("vec_id").as("src"), col("e").as("e_a"))
    val b = dstAssign
      .select(col("cent_id"), col("vec_id").as("dst"), col("e").as("e_b"))
    val cand = a.join(b, Seq("cent_id"))
      .filter(col("src") =!= col("dst"))
      .withColumn("sim", cos(col("e_a"), col("e_b")))
      .groupBy("src", "dst").agg(max("sim").as("sim"))
    val wE = Window.partitionBy("src").orderBy(col("sim").desc, col("dst"))
    cand.withColumn("ern", row_number().over(wE))
      .filter(col("ern") <= GRAPH_DEGREE)
      .select("src", "dst", "sim")
  }

  /** Undirect a directed edge relation: cosine is symmetric, so the
    * reverse edge carries the same sim; group-max dedups an edge
    * already present in both directions.
    */
  private def symmetrize(dir: DataFrame): DataFrame =
    dir.unionByName(
        dir.select(col("dst").as("src"), col("src").as("dst"), col("sim")))
      .groupBy("src", "dst").agg(max("sim").as("sim"))

  private def graphEdgesSym(s: SparkSession, d: String): DataFrame = {
    val sd = semdedupAssign(s, d).filter(col("vec_id") >= N_QUERIES)
    symmetrize(topGEdges(sd, sd))
      .transform(graft.CachePool.persist) // every hop of every search reads it
  }

  private def graphEdges(s: SparkSession, d: String): DataFrame =
    graphEdgesSym(s, d).select("src", "dst")

  /** The HNSW-style hub-pruned A/B arm: symmetrized per-node degree
    * capped at [[GRAPH_PRUNE_CAP]] = 2·G, keeping the MOST-SIMILAR
    * links (ann_graph_degree measures the hub class this targets —
    * max degree 18 at G=8 on sf0.001). Pruning a back-link drops only
    * that direction, exactly HNSW's behavior; the result is measured
    * against the unpruned curve by `ann_graph_prune_curve`, never
    * assumed.
    */
  private def graphEdgesPruned(s: SparkSession, d: String): DataFrame = {
    val wP = Window.partitionBy("src").orderBy(col("sim").desc, col("dst"))
    graphEdgesSym(s, d).withColumn("prn", row_number().over(wP))
      .filter(col("prn") <= GRAPH_PRUNE_CAP)
      .select("src", "dst")
      .transform(graft.CachePool.persist)
  }

  /** The BRIDGE arm's edge relation (r16 verdict #1) — the base graph
    * plus one bounded cross-cell link per vector, the determinized
    * form of HNSW's long-range edges: per corpus vector, its single
    * most-similar blocked candidate whose PRIMARY cell differs from
    * the vector's own. The candidate pool is the SAME multi-probe
    * blocked set as the base build (a vector's probes already reach
    * its 2nd..P-th nearest cells, so the bridge costs no extra scan —
    * only a per-source top-1 over candidates the top-G rank already
    * saw and mostly discarded in favor of in-cell links). Volume: ≤ n
    * directed rows before symmetrization, so per-node degree grows by
    * ~1–2 — the walk gains exactly one guaranteed boundary crossing
    * per expanded node. Built for the measured sf0.01 clustered
    * reachability ceiling: both walk arms plateaued at recall 0.90 —
    * the same 45/50 hits, five true neighbors across a cluster
    * boundary no in-cell path crosses (`ann_clustered_layered_curve`'s
    * ladder); `ann_clustered_bridge_curve` measures whether this link
    * class lifts it — it does (r17): recall 1.0 at every beam width at
    * sf0.01, all five recovered, for 11-22% more candidates; at sf0.1
    * recall-identical at 1-2% extra cost.
    */
  private def graphEdgesBridged(s: SparkSession, d: String): DataFrame =
    graft.CachePool.shared(s, d, "ann_bridged") {
      val sd = semdedupAssign(s, d).filter(col("vec_id") >= N_QUERIES)
      val prim = sd.filter(col("arn") === 1)
        .select(col("vec_id"), col("cent_id").as("pcell"))
      val a = sd.select(col("cent_id"), col("vec_id").as("src"),
        col("e").as("e_a"))
      val b = sd.select(col("cent_id"), col("vec_id").as("dst"),
        col("e").as("e_b"))
      val cand = a.join(b, Seq("cent_id"))
        .filter(col("src") =!= col("dst"))
        .withColumn("sim", cos(col("e_a"), col("e_b")))
        .groupBy("src", "dst").agg(max("sim").as("sim"))
        .join(prim.select(col("vec_id").as("src"), col("pcell").as("p_src")),
          "src")
        .join(prim.select(col("vec_id").as("dst"), col("pcell").as("p_dst")),
          "dst")
        .filter(col("p_src") =!= col("p_dst"))
      val wB = Window.partitionBy("src").orderBy(col("sim").desc, col("dst"))
      val bridge = cand.withColumn("brn", row_number().over(wB))
        .filter(col("brn") === 1).select("src", "dst", "sim")
      symmetrize(graphEdgesSym(s, d).unionByName(bridge))
        .select("src", "dst")
        .transform(graft.CachePool.persist)
    }

  /** The incremental arms' building blocks, factored out of the
    * `ann_incremental_graph` closure (r14 advice) so that (a) the spec
    * asserts STRUCTURAL invariants — the appended graph is a superset
    * of the symmetrized standing build, and every extra edge touches a
    * batch node — instead of a corpus-tuned volume tolerance, and (b)
    * the streaming ingestion test can compare a per-microbatch edge
    * append against the exact batch relations. All shared per corpus;
    * the multi-probe assignments are persisted because the standing
    * build and the batch append both consume them.
    */
  private def incStandAssign(s: SparkSession, d: String): DataFrame =
    graft.CachePool.shared(s, d, "ann_inc_sassign") {
      import s.implicits._
      probeAssign(
          corpusDf(s, d).filter(col("vec_id") <= incFence(s, d)),
          incCents(s, d)._1.toDF("cent_id", "ce"))
        .transform(graft.CachePool.persist)
    }

  private def incBatchAssign(s: SparkSession, d: String): DataFrame =
    graft.CachePool.shared(s, d, "ann_inc_bassign") {
      import s.implicits._
      probeAssign(
          corpusDf(s, d).filter(col("vec_id") > incFence(s, d)),
          incCents(s, d)._1.toDF("cent_id", "ce"))
        .transform(graft.CachePool.persist)
    }

  /** Symmetrized top-G build over the STANDING corpus only — what a
    * deployed graph index holds before the append batch arrives.
    */
  private[graft] def incStandingSymEdges(s: SparkSession, d: String)
      : DataFrame =
    graft.CachePool.shared(s, d, "ann_inc_standing")(
      symmetrize(topGEdges(incStandAssign(s, d), incStandAssign(s, d)))
        .transform(graft.CachePool.persist))

  /** HNSW-style batch insertion: standing edges plus each batch
    * vector's top-G blocked candidates (standing ∪ batch targets), both
    * directions. Standing nodes only GAIN back-links.
    */
  private[graft] def incAppendedEdges(s: SparkSession, d: String)
      : DataFrame =
    graft.CachePool.shared(s, d, "ann_inc_append") {
      val bTop = topGEdges(incBatchAssign(s, d),
        incStandAssign(s, d).unionByName(incBatchAssign(s, d)))
      incStandingSymEdges(s, d).unionByName(bTop)
        .unionByName(bTop.select(col("dst").as("src"),
          col("src").as("dst"), col("sim")))
        .groupBy("src", "dst").agg(max("sim").as("sim"))
        .select("src", "dst")
        .transform(graft.CachePool.persist)
    }

  /** The standing half of the incremental-graph state for a dir — the
    * trained standing centroids and the standing corpus's multi-probe
    * assignment: exactly the inputs a `foreachBatch` ingestion composes
    * with [[appendGraphEdges]] per microbatch (r14 verdict #4).
    */
  private[graft] def incStandingState(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val cents = incCents(s, d)._1
    // the one-time non-emptiness validation for the whole stream
    // lifetime (r16 advice: the check was previously one Spark job per
    // microbatch inside appendGraphEdges; the centroids are invariant
    // across the stream, and here the collected Seq makes it FREE)
    require(cents.nonEmpty,
      "incStandingState: empty standing centroid set — every appended " +
        "batch vector would silently drop out of the blocked candidate join")
    (cents.toDF("cent_id", "ce"), incStandAssign(s, d))
  }

  /** One-time non-emptiness gate for an EXTERNAL standing-centroid
    * relation (the [[incStandingState]] path validates its own, for
    * free, off the collected Seq). Run this ONCE before starting a
    * stream — it costs one small Spark job, which is exactly why
    * [[appendGraphEdges]] no longer re-checks per microbatch.
    */
  def validatedCentroids(cents: DataFrame): DataFrame = {
    require(!cents.isEmpty,
      "validatedCentroids: empty centroid set — every vector would " +
        "silently drop out of the blocked candidate join")
    cents
  }

  /** HNSW-style streaming edge append — the `foreachBatch` twin of the
    * batch A/B's appended arm, built from the SAME pieces ([[probeAssign]]
    * → [[topGEdges]]) so stream and batch cannot drift: the incoming
    * batch (vec_id, e) probes the STANDING cells, takes its top-G
    * most-similar blocked candidates among standing ∪ batch targets,
    * and returns the edges to append (both directions — standing nodes
    * only GAIN back-links) plus the batch's own assignment, which the
    * caller folds into its standing assignment for the next microbatch.
    * Per-batch cost: one broadcast join against O(k·d) centroids + a
    * cell-blocked top-G — no corpus shuffle, no Lloyd pass, no rebuild.
    * Like [[assignToCells]], `cents` must be non-empty (same silent-
    * drop failure mode) — validated ONCE at stream construction
    * ([[incStandingState]] checks its own for free; external centroids
    * go through [[validatedCentroids]]), NOT here: the centroids are
    * invariant across the stream's lifetime and an isEmpty check is one
    * Spark job per microbatch (r16 advice).
    */
  def appendGraphEdges(batch: DataFrame, standingAssign: DataFrame,
                       cents: DataFrame): (DataFrame, DataFrame) = {
    GraftExtensions.install(batch.sparkSession)
    val bAssign = probeAssign(batch, cents)
    val bTop = topGEdges(bAssign, standingAssign.unionByName(bAssign))
    (bTop.unionByName(bTop.select(col("dst").as("src"),
      col("src").as("dst"), col("sim"))), bAssign)
  }

  /** The full-rebuild arm: cells re-trained over standing ∪ batch from
    * the same seeds, all edges rebuilt from scratch.
    */
  private[graft] def incRebuiltEdges(s: SparkSession, d: String)
      : DataFrame =
    graft.CachePool.shared(s, d, "ann_inc_rebuild") {
      import s.implicits._
      val assign = probeAssign(corpusDf(s, d),
          incCents(s, d)._2.toDF("cent_id", "ce"))
        .transform(graft.CachePool.persist)
      symmetrize(topGEdges(assign, assign)).select("src", "dst")
        .transform(graft.CachePool.persist)
    }

  /** [[GRAPH_HOPS]] unrolled best-first rounds at the given beam width.
    * Returns (visited, trace): visited = (q_id, vec_id, cosine) — every
    * vector ever scored, deduped; trace = one (hop, q_id) row per
    * scored candidate, the curve's exact cost ledger. Each round's
    * relations are localCheckpoint'ed LAZILY (the graph_pagerank
    * convention): visited_{h−1} appears TWICE in visited_h's analyzed
    * tree (the union AND the beam cut), so without lineage truncation
    * the plan doubles per round — 2^HOPS copies of the whole
    * construction chain by the last hop (measured: an 8 GB driver heap
    * OOMs at sf0.001). Lazy (eager = false) because the checkpoint is
    * for PLAN truncation, not durability — `Dataset.localCheckpoint`
    * rewrites the logical plan to a LogicalRDD either way, and eager
    * would run one extra job per relation per round before the query
    * even executes. All joins are equi-joins on vec_id/src against the
    * persisted edge/corpus relations; the per-round frontier is
    * O(queries · beam · degree) rows — broadcastable at any corpus
    * size.
    */
  private def graphBeamSearch(s: SparkSession, d: String, beam: Int,
                              pruned: Boolean = false)
      : (DataFrame, DataFrame) =
    graphBeamSearchOver(s, d, beam,
      if (pruned) "pruned" else "plain",
      () => if (pruned) graphEdgesPruned(s, d) else graphEdges(s, d))

  /** The per-width view the consumers keep reading: filter the shared
    * multi-width walk to one beam width and drop the width column. A
    * width in [[GRAPH_BEAMS]] shares the curve's one memoized chain;
    * any other width walks alone (same machinery, singleton width set).
    */
  private def graphBeamSearchOver(s: SparkSession, d: String, beam: Int,
                                  tag: String, edgesFn: () => DataFrame)
      : (DataFrame, DataFrame) = {
    val beams = if (GRAPH_BEAMS.contains(beam)) GRAPH_BEAMS else Seq(beam)
    val (visited, trace) = multiBeamSearchOver(s, d, beams, tag, edgesFn)
    (visited.filter(col("bw") === beam).drop("bw"),
      trace.filter(col("bw") === beam).drop("bw"))
  }

  /** The search over an arbitrary (src, dst) edge relation, shared per
    * `tag` (a pure function of dir + construction recipe, like the
    * pruned flag it generalizes) + the width set. `edgesFn` is by-name
    * so a memo hit never constructs the edge relation at all. ONE
    * [[GRAPH_HOPS]]-round chain carries every requested width (r17,
    * guide §1.2: the hop-round JOB chain — not the per-row work — is
    * the dominant cost of a walk over any corpus, and the four-point
    * curve used to run it four times; the `bw`-tagged walk runs it
    * once for row-identical per-width results). Sharing the walk saves
    * three queries plus every bench pass from re-running the 8-round
    * chain (15.5 s for the 4-width curve at sf0.1 before). The visited
    * set and cost ledger stay DISTRIBUTED, lazily-checkpointed
    * DataFrames: collecting them to the driver grew with the corpus
    * through the hop-0 scan.
    */
  private def multiBeamSearchOver(s: SparkSession, d: String,
                                  beams: Seq[Int], tag: String,
                                  edgesFn: () => DataFrame)
      : (DataFrame, DataFrame) = {
    graft.CachePool.shared(s, d,
        s"ann_graph_search/${beams.mkString(",")}/$tag") {
      val edges = edgesFn()
      val corpus = corpusDf(s, d)
      val qs = queriesDf(s, d)
      val seed = withWidths(entryScan(s, d, graphStride(s, d)), beams)
      val (visited, traces) =
        beamWalkRounds(qs, corpus, edges, seed, GRAPH_HOPS, 0)
      val trace = (seedTrace(seed) +: traces).reduce(_ unionByName _)
        .select(col("hop").cast("int").as("hop"), col("q_id"), col("bw"))
        .localCheckpoint(eager = false) // flatten the 9-way union too
      (visited.select("bw", "q_id", "vec_id", "cosine"), trace)
    }
  }

  /** Replicate a relation once per beam width — the multi-width walk's
    * seed: every width starts from the identical hop-0 entry scan.
    */
  private def withWidths(df: DataFrame, beams: Seq[Int]): DataFrame =
    df.withColumn("bw", explode(array(beams.map(b => lit(b)): _*)))

  /** hop 0 — the coarse entry layer: brute-scan the given-stride
    * sample, keep everything scored (the ledger charges it as hop 0).
    */
  private def entryScan(s: SparkSession, d: String, stride: Long)
      : DataFrame =
    corpusDf(s, d).filter(col("vec_id") % stride === 0)
      .join(broadcast(queriesDf(s, d)))
      .withColumn("cosine", cos(col("qe"), col("e")))
      .select("q_id", "vec_id", "cosine")
      .localCheckpoint(eager = false)

  private def seedTrace(seed: DataFrame): DataFrame =
    seed.select(lit(0).cast("int").as("hop"), col("q_id"), col("bw"))

  /** One greedy walk SEGMENT: `hops` frontier-disciplined rounds over
    * `edges` starting from `visited0`, trace hops labeled
    * hopBase+1..hopBase+hops. The expanded set starts EMPTY per segment
    * — each layer restarts its discipline, exactly as HNSW restarts the
    * candidate list per level (a node expanded over the MIDDLE layer's
    * edges has never explored its base-layer edges). HNSW's ef-search
    * discipline: each round expands the best beam-width nodes NOT YET
    * EXPANDED — naive best-first over the whole visited set was
    * measured first: the beam stabilizes after ~3 rounds and the
    * remaining hops re-expand the same nodes for zero new candidates
    * (sf0.1 recall 0.44 at beam 8 vs 0.72 with the discipline).
    *
    * MULTI-WIDTH (r17): every relation carries a `bw` column and the
    * per-round window partitions by (bw, q_id), so each width's
    * frontier, visited set and ledger are ROW-IDENTICAL to the
    * single-width walk's (widths never mix inside a window partition,
    * a join key, or a group) while the round chain — the hop-round
    * JOBS that dominate walk cost at any scale — runs once for the
    * whole width set instead of once per width (the 4-point curves
    * ran 4 × [[GRAPH_HOPS]] rounds; now [[GRAPH_HOPS]]).
    */
  private def beamWalkRounds(qs: DataFrame, corpus: DataFrame,
      edges: DataFrame, visited0: DataFrame, hops: Int,
      hopBase: Int): (DataFrame, Seq[DataFrame]) = {
    var visited = visited0
    val traces = Seq.newBuilder[DataFrame]
    var expanded: DataFrame = null
    val wB = Window.partitionBy("bw", "q_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    for (h <- 1 to hops) {
      val unexpanded =
        if (expanded == null) visited
        else visited.join(expanded, Seq("bw", "q_id", "vec_id"), "left_anti")
      val frontier = unexpanded.withColumn("brn", row_number().over(wB))
        .filter(col("brn") <= col("bw")).drop("brn")
        .localCheckpoint(eager = false) // expansion + expanded set
      val expand = frontier
        .select(col("bw"), col("q_id"), col("vec_id").as("src"))
        .join(edges, "src")
        .select(col("bw"), col("q_id"), col("dst").as("vec_id")).distinct()
      val scoredNew = expand.join(broadcast(qs), "q_id")
        .join(corpus, "vec_id")
        .withColumn("cosine", cos(col("qe"), col("e")))
        .select("bw", "q_id", "vec_id", "cosine")
        .localCheckpoint(eager = false) // visited + the trace ledger
      traces += scoredNew
        .select(lit(hopBase + h).cast("int").as("hop"), col("q_id"),
          col("bw"))
      expanded = {
        val f = frontier.select("bw", "q_id", "vec_id")
        if (expanded == null) f else expanded.unionByName(f)
      }
      visited = visited.unionByName(scoredNew)
        .groupBy("bw", "q_id", "vec_id").agg(max("cosine").as("cosine"))
        .localCheckpoint(eager = false)
    }
    (visited, traces.result())
  }

  /** The two-layer walk (r14 verdict #6 — the actual HNSW hierarchy):
    * with the entry stride derived, a 10⁹-vector corpus still scans
    * only ≈32 entries at hop 0, but those entries are then far from
    * everything — the walk crosses the whole base graph on a fixed hop
    * budget. The middle layer is the stride^(1/2) convention: members
    * are every [[graphMidStride]]-th vector (mid = ceil(√stride)), the
    * entry layer RE-DERIVES as mid² so the hierarchy NESTS (every entry
    * is a middle member — without nesting the entries have no middle
    * edges and the first segment is dead). Search: hop-0 scan of the
    * mid²-stride entries, [[GRAPH_MID_HOPS]] rounds over the
    * middle-member graph (edge volume O(n/mid · G)), then the
    * remaining rounds over the base graph — same total hop budget as
    * the flat walk, so `ann_graph_layered_curve` is a fair column-wise
    * A/B against `ann_graph_beam_curve`.
    */
  private def graphLayeredSearch(s: SparkSession, d: String,
                                 beams: Seq[Int]): (DataFrame, DataFrame) =
    graft.CachePool.shared(s, d,
      s"ann_graph_search/${beams.mkString(",")}/layered") {
        val corpus = corpusDf(s, d)
        val qs = queriesDf(s, d)
        val mid = graphMidStride(s, d)
        val seed = withWidths(entryScan(s, d, mid * mid), beams)
        val (v1, t1) = beamWalkRounds(qs, corpus, midEdges(s, d), seed,
          GRAPH_MID_HOPS, 0)
        val (v2, t2) = beamWalkRounds(qs, corpus, graphEdges(s, d), v1,
          GRAPH_HOPS - GRAPH_MID_HOPS, GRAPH_MID_HOPS)
        val trace = ((seedTrace(seed) +: t1) ++ t2).reduce(_ unionByName _)
          .select(col("hop").cast("int").as("hop"), col("q_id"), col("bw"))
          .localCheckpoint(eager = false)
        (v2.select("bw", "q_id", "vec_id", "cosine"), trace)
      }

  /** mid = ceil(√stride): the middle layer keeps ≈ n/√stride members —
    * the geometric mean between the full corpus and the ≈32-row entry
    * layer, which is what collapsing HNSW's log-many levels into one
    * middle level costs.
    */
  private[graft] def graphMidStride(s: SparkSession, d: String): Long =
    math.max(1L,
      math.ceil(math.sqrt(graphStride(s, d).toDouble)).toLong)

  /** Bounded-degree graph over the MIDDLE members only — the same
    * blocked top-G construction as the base graph, restricted to every
    * mid-th vector, then symmetrized.
    */
  private def midEdges(s: SparkSession, d: String): DataFrame =
    graft.CachePool.shared(s, d, "ann_mid") {
      val sd = semdedupAssign(s, d)
        .filter(col("vec_id") >= N_QUERIES &&
          col("vec_id") % graphMidStride(s, d) === 0)
      symmetrize(topGEdges(sd, sd)).select("src", "dst")
        .transform(graft.CachePool.persist)
    }

  /** Shared operating-point curve (the ann_ivf_probe_curve convention):
    * recall vs candidates-scored at beam ∈ [[GRAPH_BEAMS]], over the
    * plain or hub-pruned edge relation — `ann_graph_beam_curve` and
    * `ann_graph_prune_curve` are this builder's two arms, so the A/B
    * cannot drift apart structurally.
    */
  private def graphCurve(s: SparkSession, d: String, pruned: Boolean)
      : DataFrame =
    graphCurveOver(s, d, multiBeamSearchOver(s, d, GRAPH_BEAMS,
      if (pruned) "pruned" else "plain",
      () => if (pruned) graphEdgesPruned(s, d) else graphEdges(s, d)))

  /** The curve report over a multi-width (bw-tagged) search pair: ONE
    * window + ONE hit-join + ONE ledger aggregation grouped by bw (r17
    * — previously each width ran its own topK + three aggregates: 4×
    * the jobs over the same cached rows). The width spine LEFT-joins
    * the grouped counts so an empty corpus still reports every
    * operating point with zero counts, exactly as the per-width
    * aggregates did; the final ascending sort reproduces the old
    * union-in-width-order row order.
    */
  private def graphCurveOver(s: SparkSession, d: String,
      searchAll: (DataFrame, DataFrame)): DataFrame = {
    import s.implicits._
    // hit-join per beam width; shared memo (r17) — the five
    // curve arms and the IVFADC knob read one persisted ground truth
    val exact = annExactTopK(s, d)
    val (visitedAll, traceAll) = searchAll
    val wB = Window.partitionBy("bw", "q_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    val approx = visitedAll.withColumn("rn", row_number().over(wB))
      .filter(col("rn") <= TOP_K).select("bw", "q_id", "vec_id")
    val cand = traceAll.groupBy("bw")
      .agg(count(lit(1)).as("candidates_scored"))
    val hit = exact.join(approx, Seq("q_id", "vec_id"))
      .groupBy("bw").agg(count(lit(1)).as("total_hits"))
    val ex = exact.agg(count(lit(1)).as("exact_rows"))
    GRAPH_BEAMS.toDF("bw")
      .join(cand, Seq("bw"), "left").join(hit, Seq("bw"), "left")
      .crossJoin(broadcast(ex))
      .select(col("bw").cast("int").as("beam_width"),
        coalesce(col("candidates_scored"), lit(0L)).as("candidates_scored"),
        coalesce(col("total_hits"), lit(0L)).as("total_hits"),
        (coalesce(col("total_hits"), lit(0L)).cast("double") /
          col("exact_rows").cast("double")).as("recall"))
      .orderBy("beam_width")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Measure, don't guess: IVF recall against the brute-force ground
    // truth — both sides deterministic, so recall itself is a verifiable
    // number, not an estimate.
    "ann_ivf_recall" -> ((s, d) => {
      val exact = queries("ann_cosine_topk")(s, d)
        .select(col("q_id"), col("vec_id"))
      val approx = queries("ann_ivf_topk")(s, d)
        .select(col("q_id").as("aq"), col("vec_id").as("av"))
      exact.join(approx,
          col("q_id") === col("aq") && col("vec_id") === col("av"), "left")
        .groupBy("q_id")
        .agg((sum(when(col("av").isNotNull, 1).otherwise(0)).cast("double") /
          count(lit(1))).as("recall"))
    }),

    "ann_cosine_topk" -> ((s, d) => {
      val scored = corpusDf(s, d)
        .join(broadcast(queriesDf(s, d)))
        .withColumn("cosine", cos(col("qe"), col("e")))
      // deliberately NOT persisted: a cached answer would make the
      // standalone bench entry measure a CacheManager hit when the
      // recall query (alphabetically earlier) already built this plan,
      // hiding real regressions behind a near-zero number
      topK(scored)
    }),

    // Matryoshka-style dimension-truncation study (Kusupati et al.,
    // "Matryoshka Representation Learning", NeurIPS 2022): score with
    // only the FIRST D dims and measure top-K recall against the
    // full-64-dim ground truth, per query and per budget. At 100 TB
    // the payoff is bandwidth: a 16-dim first pass reads 1/4 of the
    // vector bytes (or lets 4× more vectors fit a memory tier) and a
    // full-precision refine re-scores only the shortlist — this report
    // says what that first pass costs in recall BEFORE anyone ships
    // it. Same broadcast-queries shape as the brute-force baseline;
    // the corpus never shuffles; ranks fold in fixed element order so
    // both engines agree exactly.
    "ann_dim_truncation" -> ((s, d) => {
      val q = queriesDf(s, d)
      val c = corpusDf(s, d)
      val full = topK(c.join(broadcast(q))
        .withColumn("cosine", cos(col("qe"), col("e"))))
        .select(col("q_id"), col("vec_id"))
      def recallFor(dm: Int): DataFrame = {
        val w = Window.partitionBy("q_id")
          .orderBy(col("cosine").desc, col("vec_id"))
        val a = c.join(broadcast(q))
          .withColumn("cosine",
            cos(slice(col("qe"), 1, dm), slice(col("e"), 1, dm)))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= TOP_K)
          .select(col("q_id").as("aq"), col("vec_id").as("av"))
        full.join(a,
            full("q_id") === a("aq") && full("vec_id") === a("av"), "left")
          .groupBy("q_id")
          .agg((sum(when(col("av").isNotNull, 1).otherwise(0)).cast("double") /
            count(lit(1))).as("recall"))
          .select(lit(dm.toLong).as("dims"), col("q_id"), col("recall"))
      }
      recallFor(16).unionByName(recallFor(32)).unionByName(recallFor(48))
    }),

    // Hard-negative mining — the contrastive-training data op: per
    // query, the top-K most-similar corpus vectors with a DIFFERENT
    // label (similar-but-wrong = the gradient-rich negatives of
    // triplet/InfoNCE training; random negatives are too easy to teach
    // anything). Broadcast queries against the unshuffled corpus, the
    // label inequality pushed below the score; the TopK heap keeps K
    // rows per query before any exchange.
    "ann_hard_negatives" -> ((s, d) => {
      val ev = Tables.embeddings(s, d)
      val q = ev.filter(col("vec_id") < N_QUERIES)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          VectorOps.asDouble(col("embedding")).as("qe"))
      val c = ev.filter(col("vec_id") >= N_QUERIES)
        .select(col("vec_id"), col("label"),
          VectorOps.asDouble(col("embedding")).as("e"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("vec_id"))
      c.join(broadcast(q))
        .filter(col("label") =!= col("q_label"))
        .withColumn("cosine", cos(col("qe"), col("e")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= TOP_K)
        .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
          col("cosine"), col("rn").cast("int").as("rn"))
    }),

    "ann_ivf_topk" -> ((s, d) => {
      val cents = centroidsDf(s, d)
      // assignment pass: nearest centroid per corpus vector. Written as
      // the row_number formulation — RankLimitRewrite turns the arn=1
      // filter into the two-phase TopKPerKey operator: per-partition
      // 1-row heaps, no sort anywhere. (A max_by over the array column would fall back
      // to SortAggregate: immutable aggregation buffers can't hash.)
      val wAssign = Window.partitionBy("vec_id")
        .orderBy(col("ccos").desc, col("cent_id"))
      val assign = corpusDf(s, d)
        .join(broadcast(cents))
        .withColumn("ccos", cos(col("e"), col("ce")))
        .withColumn("arn", row_number().over(wAssign))
        .filter(col("arn") === 1)
        .select(col("vec_id"), col("e"), col("cent_id"))
      // probe pass: NPROBE nearest centroids per query
      val wProbe = Window.partitionBy("q_id")
        .orderBy(col("qcos").desc, col("cent_id"))
      val probe = queriesDf(s, d)
        .join(broadcast(cents))
        .withColumn("qcos", cos(col("qe"), col("ce")))
        .withColumn("prn", row_number().over(wProbe))
        .filter(col("prn") <= nprobe(s, d))
        .select(col("q_id"), col("qe"), col("cent_id"))
      val scored = probe.join(assign, "cent_id")
        .withColumn("cosine", cos(col("qe"), col("e")))
      topK(scored) // not persisted — see ann_cosine_topk's note
    }),

    // SemDeDup (cluster-scoped semantic dedup, Abbas et al. 2023): the
    // scale path for embedding near-dup removal. Brute-force pairwise
    // cosine is O(n²) (dedup_embedding_cosine — correct, unrunnable at
    // 10⁹ docs); SemDeDup first k-means-clusters the corpus, then looks
    // for near-dups ONLY within a cluster: pair work drops to
    // Σ|cluster|² ≈ n·(n/k), and k grows with the corpus to hold
    // cluster sizes — and therefore per-cluster pair cost — constant.
    // Reuses the IVF family's Lloyd-refined centroids (memoized, one
    // broadcast assignment pass — the corpus never shuffles for the
    // clustering); the pair search is an equi-join on cent_id, a
    // hash-partitionable key at any scale, widened to the vector's
    // SEMDEDUP_PROBES nearest clusters (multi-probe — see the constant
    // for the measured recall-vs-cost tradeoff). Kept set =
    // keep-earliest: a vector is dropped iff a SMALLER-id probe-mate
    // sits within the threshold — the same greedy rule the dedup
    // family's keep-first convention uses, pure function of the data.
    // The report is per PRIMARY cluster (each vector counted once,
    // where it lives; a pair found in several shared clusters is
    // attributed to the smallest). What multi-probe still trades away
    // is pairs sharing NO probed cluster; that loss is a MEASURED
    // number (ann_semdedup_recall), not a hope.
    "ann_semdedup" -> ((s, d) => {
      import s.implicits._
      val sd = semdedupAssign(s, d)
      val primary = sd.filter(col("arn") === 1)
        .select(col("vec_id"), col("cent_id"))
      val sizes = primary.groupBy("cent_id").agg(count(lit(1)).as("n_vectors"))
      val pairs = semdedupPairs(s, d)
        .transform(graft.CachePool.persist) // pair count + drop count
      val pairCounts = pairs.groupBy("cent_id")
        .agg(count(lit(1)).as("n_dup_pairs"))
      // dropped vectors are counted in their PRIMARY cluster
      val dropCounts = pairs.select(col("vec_b")).distinct()
        .join(primary.withColumnRenamed("vec_id", "vec_b"), "vec_b")
        .groupBy("cent_id").agg(count(lit(1)).as("n_dropped"))
      // per-centroid report: every side of the join is O(centroids)
      val base = centroidSeq(s, d).map(_._1).toDF("cent_id")
      base.join(broadcast(sizes), Seq("cent_id"), "left")
        .join(broadcast(pairCounts), Seq("cent_id"), "left")
        .join(broadcast(dropCounts), Seq("cent_id"), "left")
        .select(col("cent_id"),
          coalesce(col("n_vectors"), lit(0L)).as("n_vectors"),
          coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          (coalesce(col("n_vectors"), lit(0L)) -
            coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
    }),

    // Measure, don't guess (the ann_ivf_recall convention): what
    // fraction of the TRUE near-dup pairs does cluster-scoped search
    // keep? Captured ⊆ true by construction (same kernel, same
    // threshold, strictly fewer candidate pairs), so this is exactly
    // the blocking recall of the clustering. The brute side is the
    // O(n²) ground truth — affordable at test SF, which is the point
    // of measuring recall HERE before trusting the blocked variant at
    // a scale where brute force is impossible. NULL recall when the
    // corpus has no near-dup pairs at all.
    "ann_semdedup_recall" -> ((s, d) => {
      val all = emb(s, d)
      val a = all.select(col("vec_id").as("vec_a"), col("e").as("e_a"))
      val b = all.select(col("vec_id").as("vec_b"), col("e").as("e_b"))
      val nTrue = a.join(b, col("vec_a") < col("vec_b"))
        .filter(cos(col("e_a"), col("e_b")) >= SEMDEDUP_T)
        .agg(count(lit(1)).as("n_true_pairs")).withColumn("__j", lit(1))
      val nCap = semdedupPairs(s, d)
        .agg(count(lit(1)).as("n_captured")).withColumn("__j", lit(1))
      nTrue.join(broadcast(nCap), "__j")
        .select(col("n_true_pairs"), col("n_captured"),
          when(col("n_true_pairs") === 0, lit(null))
            .otherwise(col("n_captured").cast("double") /
              col("n_true_pairs").cast("double")).as("recall"))
    }),

    // k-NN label vote: classify each query by the majority label of its
    // brute-force top-k neighbors (tie → smallest label, a total order
    // both engines share) and report it against the query's own label —
    // the standard embedding-quality eval. Candidate generation is the
    // existing top-k (corpus never shuffles); the vote itself moves only
    // k·queries rows, and the label lookup broadcasts the tiny top-k
    // side into the corpus scan.
    "ann_knn_classify" -> ((s, d) => {
      val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val topk = queries("ann_cosine_topk")(s, d).select("q_id", "vec_id")
      val votes = labels.join(broadcast(topk), "vec_id")
        .groupBy("q_id", "label").agg(count(lit(1)).as("n_votes"))
      val w = Window.partitionBy("q_id").orderBy(col("n_votes").desc, col("label"))
      val pred = votes.withColumn("vrn", row_number().over(w))
        .filter(col("vrn") === 1)
        .select(col("q_id"), col("label").as("predicted_label"), col("n_votes"))
      pred.join(
          broadcast(labels.select(col("vec_id").as("q_id"), col("label").as("true_label"))
            .filter(col("q_id") < N_QUERIES)),
          "q_id")
        .select("q_id", "predicted_label", "true_label", "n_votes")
    }),

    // Embedding-hygiene report: per-label centroid (elementwise mean)
    // and the label's cohesion around it (mean/min cosine of members to
    // centroid). Low mean_cos = a label whose embeddings don't cluster —
    // mislabelled data or a collapsed embedding model; the report a
    // training pipeline runs before trusting labels at all. Scale
    // shape: one (label, dim)-keyed hash agg (output labels·d rows,
    // collected and broadcast back — the O(centroids) IVF rebuild),
    // then one broadcast join over the corpus; the corpus never
    // shuffles.
    //
    // Order-independence via POWER-OF-TWO quantization, not decimal:
    // a decimal(38,10) cast looked equivalent but is NOT engine-exact —
    // a float whose dyadic denominator is exactly 2^11 lands exactly
    // halfway between two 10-dp decimals, and Spark (HALF_UP, away
    // from zero) and DuckDB (toward +inf) disagree on negative ties
    // (sf0.1 has such a value: -0.22314453125 at vec 1062 dim 6, which
    // skewed label 8's centroid by 1e-10 and every downstream cosine
    // by ~1e-12). floor(x·2^30 + 0.5) has no tie rule at all: ·2^30 is
    // an exact exponent shift for any float, +0.5 and floor are exact
    // IEEE ops with one defined answer, and the per-group SUM is then
    // exact 64-bit integer arithmetic — associative, engine-independent.
    // Bounds: |sum| ≤ n·2^30, so the exact-long→double window (2^53)
    // holds to n ≈ 8e6 rows per (label,dim) cell; rescale past that.
    // Embedding-drift monitor: per label, the L2 distance between the
    // centroids of two deterministic cohorts (even vs odd vec_id — in
    // production, yesterday's batch vs today's). The drift alarm every
    // embedding pipeline needs when a model or preprocessing change
    // silently shifts the vector space. Means use the 2^30 integer grid
    // (order-independent exact sums); the squared-difference total is
    // RE-quantized onto the same grid before summing so no data-ordered
    // double accumulation ever enters the result. Cost: one grouped
    // pass over (label, cohort, dim) — the corpus never self-joins.
    "ann_centroid_drift" -> ((s, d) => {
      val Q = 1073741824.0 // 2^30
      val means = Tables.embeddings(s, d)
        .select(col("label"), (pmod(col("vec_id"), lit(2)) === 0).as("is_a"),
          graft.functions.VectorOps.asDouble(col("embedding")).as("e"))
        .select(col("label"), col("is_a"),
          posexplode(col("e")).as(Seq("dim", "val")))
        .groupBy("label", "is_a", "dim")
        .agg((sum(floor(col("val") * Q + 0.5)).cast("double") / Q /
          count(lit(1)).cast("double")).as("m"),
          count(lit(1)).as("n"))
      val a = means.filter(col("is_a"))
        .select(col("label"), col("dim"), col("m").as("ma"), col("n").as("na"))
      val b = means.filter(!col("is_a"))
        .select(col("label"), col("dim"), col("m").as("mb"), col("n").as("nb"))
      a.join(b, Seq("label", "dim"))
        .groupBy("label")
        .agg(max("na").as("n_a"), max("nb").as("n_b"),
          sqrt(sum(floor((col("ma") - col("mb")) * (col("ma") - col("mb")) *
            Q + 0.5)).cast("double") / Q).as("drift_l2"))
    }),

    "ann_label_centroids" -> ((s, d) => {
      import s.implicits._
      val Q = 1073741824.0 // 2^30
      val base = Tables.embeddings(s, d)
        .select(col("label"), VectorOps.asDouble(col("embedding")).as("e"))
        .transform(graft.CachePool.persist) // two passes: means + cohesion
      val means = base
        .select(col("label"), posexplode(col("e")).as(Seq("dim", "val")))
        .groupBy("label", "dim")
        .agg((sum(floor(col("val") * Q + 0.5)).cast("double") / Q /
          count(lit(1)).cast("double")).as("mval"))
        .collect()
      val cents = means.groupBy(_.getInt(0)).toSeq
        .map { case (l, rows) =>
          (l, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
        }
        .toDF("label", "ce")
      base.join(broadcast(cents), "label")
        .withColumn("c", cos(col("e"), col("ce")))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vectors"),
          (sum(floor(col("c") * Q + 0.5)).cast("double") / Q /
            count(lit(1)).cast("double")).as("mean_cos"),
          min("c").as("min_cos"))
    }),

    // Int8 quantization error report: per-vector symmetric quantization
    // (scale = max |component|, q = round(127·v/scale)) and the
    // per-label reconstruction error it costs — the sizing study behind
    // every compressed vector store (int8 is 4× smaller and usually
    // <1% recall loss; this measures the "usually" on YOUR data).
    // Determinism toolkit as elsewhere: round = floor(x+0.5) (no
    // engine-specific tie rule), error means quantize through the 2^40
    // integer grid (order-independent sums), max over exact doubles.
    // Per-row work only + one hash agg — scan-scales at any corpus.
    "ann_int8_error" -> ((s, d) => {
      val Q = 1099511627776.0 // 2^40
      val scaled = Tables.embeddings(s, d)
        .select(col("label"), VectorOps.asDouble(col("embedding")).as("e"))
        .withColumn("m", array_max(transform(col("e"), x => abs(x))))
        .withColumn("scale", when(col("m") === 0.0, lit(1.0)).otherwise(col("m")))
      val recon = scaled
        .select(col("label"), col("scale"), posexplode(col("e")).as(Seq("dim", "val")))
        .withColumn("qv", floor(col("val") * 127.0 / col("scale") + 0.5))
        .withColumn("aerr", abs(col("val") - col("qv") * col("scale") / 127.0))
      recon.groupBy("label")
        .agg(count(lit(1)).as("n_values"),
          (sum(floor(col("aerr") * col("aerr") * Q + 0.5)).cast("double") / Q /
            count(lit(1)).cast("double")).as("mean_sq_err"),
          max("aerr").as("max_abs_err"))
    }),

    // Product-quantization sizing study — the IVFADC backbone: split
    // the 64-dim space into PQ_M=8 subspaces of 8 dims, one codebook
    // per subspace, and measure the reconstruction MSE that 8 bytes/
    // vector (one codeword id per subspace) costs next to int8's 64
    // (ann_int8_error is the sibling report). Codebooks are the
    // per-LABEL centroids restricted to each subspace — deterministic
    // (the ann_label_centroids integer-grid means) where k-means++
    // would be seed-dependent, and oracle-expressible. Assignment is a
    // broadcast of the O(M·labels) codebook against the subspace-
    // exploded corpus (a ×labels bounded expansion, never a corpus
    // self-join); the report needs only the nearest DISTANCE, so the
    // reduction is a hash-aggregable min(dist) (no struct argmin — that
    // would SortAggregate) with each L2² folded in fixed element order,
    // engine-identical; error means re-quantize through the 2^30 grid.
    "ann_pq_error" -> ((s, d) => {
      val Q = 1073741824.0 // 2^30
      val codebook = pqCodebookDf(s, d)
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          VectorOps.asDouble(col("embedding")).as("e"))
      // native codegen kernel; bitwise-identical to the HOF fold and
      // the oracle's list_reduce (same adds, same order)
      def l2(a: Column, b: Column) = GraftFunctions.l2DistSq(a, b)
      val subs = base.select(col("vec_id"), posexplode(array(
        (0 until PQ_M).map(i => slice(col("e"), i * PQ_SUB + 1, PQ_SUB)): _*))
        .as(Seq("s", "sub")))
      subs.join(broadcast(codebook), "s")
        .select(col("vec_id"), col("s"), l2(col("sub"), col("cw")).as("dist"))
        .groupBy("vec_id", "s").agg(min("dist").as("dist"))
        .groupBy("s")
        .agg(count(lit(1)).as("n_vectors"),
          (sum(floor(col("dist") * Q + 0.5)).cast("double") / Q /
            count(lit(1)).cast("double")).as("mse_pq"))
        .join(broadcast(
          codebook.groupBy("s").agg(count(lit(1)).as("n_codewords"))), "s")
        .select(col("s").as("subspace"), col("n_vectors"),
          col("n_codewords"), col("mse_pq"))
    }),

    // The sizing study's sequel: per-subspace reconstruction MSE with
    // the TRAINED k ≤ 256 Lloyd codebooks — the tier ann_ivfadc_topk
    // actually ships — next to ann_pq_error's 10-codeword label
    // baseline. Same 8-byte code budget, same grid-quantized error
    // mean; the delta between the two reports is the measured value of
    // real codebook training on this corpus. Corpus-only on both axes
    // (codebooks are trained on the corpus; queries are workload).
    "ann_pq_trained_error" -> ((s, d) => {
      val Q = 1073741824.0 // 2^30
      val codebook = pqTrainedDf(s, d)
      def l2(a: Column, b: Column) = GraftFunctions.l2DistSq(a, b)
      val subs = corpusDf(s, d).select(col("vec_id"), posexplode(array(
        (0 until PQ_M).map(i => slice(col("e"), i * PQ_SUB + 1, PQ_SUB)): _*))
        .as(Seq("s", "sub")))
      subs.join(broadcast(codebook), "s")
        .select(col("vec_id"), col("s"), l2(col("sub"), col("cw")).as("dist"))
        .groupBy("vec_id", "s").agg(min("dist").as("dist"))
        .groupBy("s")
        .agg(count(lit(1)).as("n_vectors"),
          (sum(floor(col("dist") * Q + 0.5)).cast("double") / Q /
            count(lit(1)).cast("double")).as("mse_trained"))
        .join(broadcast(
          codebook.groupBy("s").agg(count(lit(1)).as("n_codewords"))), "s")
        .select(col("s").as("subspace"), col("n_vectors"),
          col("n_codewords"), col("mse_trained"))
    }),

    // OPQ-style rotation study — the sizing study's sequel the r10
    // IVFADC measurement asked for: does an orthogonal pre-rotation
    // lower PQ reconstruction error at the same 8-byte budget? The
    // rotation is the 64-point Walsh–Hadamard transform, entries
    // ±1/8 = ±1/√64 — a REAL orthogonal matrix (H·Hᵀ = I), and
    // deterministic where OPQ's learned rotation or a seeded random
    // Gram–Schmidt basis would be seed-dependent and not
    // oracle-expressible: h[i][j] = (-1)^popcount(i AND j) / 8. Each
    // rotated coordinate folds in fixed index order (aggregate HOF ↔
    // the oracle's list_reduce — same adds, same order, so both
    // engines produce identical doubles). Codebooks are the
    // label-centroid baseline REBUILT in rotated space (grid means do
    // not commute with the rotation through the 2^30 re-quantization,
    // so both engines re-derive them from rotated values); mse_pq is
    // ann_pq_error's unrotated pipeline on the shared scan, so
    // rotation_gain is directly the measured value of the rotation.
    // On this near-isotropic corpus the honest expectation is ≈ 0 —
    // OPQ wins by equalizing per-subspace variance, which uniform
    // data already has; the report MEASURES that instead of assuming
    // it (Ge et al., "Optimized Product Quantization", CVPR 2013 —
    // rotation gains concentrate on anisotropic data). At 100 TB: the
    // rotation is a per-row map (O(d log d) as a fast WHT kernel; d²
    // here via the HOF), codebooks stay O(M·labels) broadcasts, and
    // no shuffle appears beyond the four grid-mean aggregations.
    "ann_opq_rotation" -> ((s, d) => {
      val Q = 1073741824.0 // 2^30
      def l2(a: Column, b: Column) = GraftFunctions.l2DistSq(a, b)
      val rot = expr(
        s"""transform(sequence(0, ${DIM - 1}), i ->
           |  aggregate(zip_with(e, sequence(0, ${DIM - 1}), (x, j) ->
           |      CASE WHEN bit_count(i & j) % 2 = 0 THEN x ELSE -x END),
           |    CAST(0 AS DOUBLE), (acc, x) -> acc + x)
           |  / CAST(8 AS DOUBLE))""".stripMargin)
      val base = labeledEmb(s, d)
        .withColumn("er", rot)
        .transform(graft.CachePool.persist)
      // label-centroid codebook in the given space: integer-grid means
      // per (label, dim), reassembled in dim order, sliced per subspace
      def codebook(vec: String): DataFrame = base
        .select(col("label"), posexplode(col(vec)).as(Seq("dim", "val")))
        .groupBy("label", "dim")
        .agg((sum(floor(col("val") * Q + 0.5)).cast("double") / Q /
          count(lit(1)).cast("double")).as("mval"))
        .groupBy("label")
        .agg(array_sort(collect_list(struct(col("dim"), col("mval")))).as("ps"))
        .select(col("label"), expr("transform(ps, p -> p.mval)").as("c"))
        .select(col("label"), posexplode(array(
          (0 until PQ_M).map(i => slice(col("c"), i * PQ_SUB + 1, PQ_SUB)): _*))
          .as(Seq("s", "cw")))
      def mse(vec: String, out: String): DataFrame = {
        val subs = base.select(col("vec_id"), posexplode(array(
          (0 until PQ_M).map(i => slice(col(vec), i * PQ_SUB + 1, PQ_SUB)): _*))
          .as(Seq("s", "sub")))
        subs.join(broadcast(codebook(vec)), "s")
          .select(col("vec_id"), col("s"), l2(col("sub"), col("cw")).as("dist"))
          .groupBy("vec_id", "s").agg(min("dist").as("dist"))
          .groupBy("s")
          .agg(count(lit(1)).as("n_vectors"),
            (sum(floor(col("dist") * Q + 0.5)).cast("double") / Q /
              count(lit(1)).cast("double")).as(out))
      }
      mse("e", "mse_pq").join(mse("er", "mse_rotated").drop("n_vectors"), "s")
        .select(col("s").as("subspace"), col("n_vectors"),
          col("mse_pq"), col("mse_rotated"),
          (col("mse_pq") - col("mse_rotated")).as("rotation_gain"))
    }),

    // IVFADC — the full FAISS-style index search: IVF coarse cells
    // restrict WHICH vectors are scored (the ann_ivf_topk probe set),
    // and PQ codes replace the full-precision vectors in the scoring
    // (asymmetric distance: exact query against the PQ_M-codeword
    // reconstruction). At 100 TB this is the memory story: the search
    // tier holds PQ_M BYTES per corpus vector (one codeword id per
    // subspace) + the small codebooks, not 256 bytes of floats.
    // Encoding is the PQ argmin via the RankLimitRewrite row_number
    // pattern (no SortAggregate); the reconstruction reassembles in
    // subspace order with array_sort∘collect_list (deterministic);
    // scoring/probing reuse the memoized Lloyd centroids, and every
    // cosine folds in fixed element order — engine-identical ranks.
    "ann_ivfadc_topk" -> ((s, d) => {
      // re-rank the shared scored pool at the MEASURED depth (r16
      // verdict #5 — see [[adcShortlist]]): the shipped chain adapts
      // its refine budget to the cohort's own curve instead of one
      // fleet-wide constant
      topK(ivfadcScored(s, d)
        .filter(col("srn") <= adcShortlist(s, d))
        .drop("srn"))
    }),

    // Measured recall of the IVFADC tier against the brute-force
    // full-precision ground truth — what the 8-byte codes COST on this
    // data, next to ann_ivf_recall's cells-only number. The honest
    // index-sizing pair: probe budget buys back IVF loss, codebook
    // size buys back ADC loss; both are measured, not assumed.
    "ann_ivfadc_recall" -> ((s, d) => {
      val exact = queries("ann_cosine_topk")(s, d)
        .select(col("q_id"), col("vec_id"))
      val approx = queries("ann_ivfadc_topk")(s, d)
        .select(col("q_id").as("aq"), col("vec_id").as("av"))
      exact.join(approx,
          col("q_id") === col("aq") && col("vec_id") === col("av"), "left")
        .groupBy("q_id")
        .agg((sum(when(col("av").isNotNull, 1).otherwise(0)).cast("double") /
          count(lit(1))).as("recall"))
    }),

    // Graph-walk index search — the missing industry tier next to
    // flat / IVF / IVFADC / LSH: the deterministic small-world layer
    // (see [[GRAPH_DEGREE]] scaladoc). Ships the standard top-k shape
    // at the [[GRAPH_BEAM]] operating point.
    "ann_graph_topk" -> ((s, d) => {
      val (visited, _) = graphBeamSearch(s, d, GRAPH_BEAM)
      topK(visited)
    }),

    // Measured recall of the graph tier against the brute-force ground
    // truth (the ann_ivf_recall convention) — what the fixed entry +
    // finite hop budget cost on this corpus, per query.
    "ann_graph_recall" -> ((s, d) => {
      val exact = queries("ann_cosine_topk")(s, d)
        .select(col("q_id"), col("vec_id"))
      val approx = queries("ann_graph_topk")(s, d)
        .select(col("q_id").as("aq"), col("vec_id").as("av"))
      exact.join(approx,
          col("q_id") === col("aq") && col("vec_id") === col("av"), "left")
        .groupBy("q_id")
        .agg((sum(when(col("av").isNotNull, 1).otherwise(0)).cast("double") /
          count(lit(1))).as("recall"))
    }),

    // The graph tier's OPERATING-POINT study (the ann_ivf_probe_curve
    // convention): recall vs candidates-scored at beam ∈ GRAPH_BEAMS.
    // candidates_scored counts every cosine evaluation in the ledger —
    // the hop-0 coarse-layer scan plus every hop expansion, revisits
    // included — exactly the per-query full-vector read volume the beam
    // knob buys recall with; this table next to the IVF curve and the
    // IVFADC recall is what a 100 TB index owner reads before choosing
    // a tier.
    "ann_graph_beam_curve" -> ((s, d) => graphCurve(s, d, pruned = false)),

    // The hub-prune A/B arm of the curve above: the IDENTICAL search at
    // the identical operating points over [[graphEdgesPruned]] (per-node
    // degree capped at 2·G keeping the most-similar links — the
    // back-link prune HNSW applies to hubs, the refinement r13's tier
    // named and skipped). Read NEXT TO ann_graph_beam_curve: same
    // beam_width rows, so recall-per-candidate of pruned vs unpruned is
    // a column-wise diff. Measured (r14): the prune is a WASH on this
    // corpus — identical recall at every beam width and SF, for a
    // handful fewer candidates (sf0.1: 6205 vs 6210 at beam 8, 11855
    // vs 11862 at beam 16; sf0.001 identical to the row) — the max
    // symmetrized degree is 18 vs the 16 cap, so the prune barely
    // binds on near-uniform data. On the CLUSTERED cohort the prune
    // BINDS exactly as HNSW theory says (r15, ann_clustered_prune_curve
    // vs ann_clustered_beam_curve at sf0.1): 2478 vs 3526 candidates at
    // beam 2 (recall 0.94 vs 0.96), 6966 vs 8275 at beam 8 (both 1.0)
    // — a ~16-30% probe saving at essentially no recall cost, because
    // in-cluster hubs accumulate the back-links the cap trims.
    // The shipped tier keeps the UNPRUNED graph (uniform-cohort wash,
    // one relation fewer to build), but the clustered arm is the
    // evidence that a deployment on real embeddings should turn the
    // prune ON; both curves keep that decision measured.
    "ann_graph_prune_curve" -> ((s, d) => graphCurve(s, d, pruned = true)),

    // The HIERARCHY arm of the curve A/B (r14 verdict #6 — see
    // [[graphLayeredSearch]]): hop-0 scan of the mid²-stride entries,
    // GRAPH_MID_HOPS rounds over the √stride middle-member graph, the
    // remaining rounds over the base graph — the same total hop budget
    // as ann_graph_beam_curve, so the two tables diff column-wise.
    // Measured (r15): the FLAT walk wins at every test SF — sf0.1
    // beam 8: flat 0.68 @ 6210 candidates vs layered 0.66 @ 5996;
    // beam 16: 0.90 @ 11862 vs 0.84 @ 10922; sf0.001/0.01 beam 8:
    // 0.98 vs 0.92. At test scale the derived stride is small (≤ 63),
    // so hop-0 entries already land near the target and the 3 middle
    // hops just spend budget on a sparser graph. The r16 clustered arm
    // (ann_clustered_layered_curve) moves the verdict one rung: on
    // structured data the hierarchy MATCHES flat's saturated recall
    // (1.0 from beam 8 at sf0.1) while scoring 16–21% fewer candidates
    // — it stops losing as soon as the corpus has cluster structure.
    // The shipped tier still stays FLAT (uniform wash, one relation
    // fewer), and this arm remains the measured insurance for the
    // regime the hierarchy exists for — stride ~3·10⁷ at 10⁹ vectors,
    // where 32 flat entries are ~7 hops from anywhere and the middle
    // segment is what makes the walk start close. Kept as a standing
    // curve so that regime's decision is a re-measure, not a rebuild.
    "ann_graph_layered_curve" -> ((s, d) =>
      graphCurveOver(s, d, graphLayeredSearch(s, d, GRAPH_BEAMS))),

    // The BUILD half of the graph tier's cost story (the search half is
    // ann_graph_beam_curve): the one-off construction price a 100 TB
    // index owner weighs against the per-query savings. Ships the
    // blocked candidate-pair BOUND Σ|cell|² — a STRICT UPPER bound on
    // the pairwise cosines the k-NN build may evaluate (it includes
    // the |cell| self-pairs and counts a pair once per shared cell;
    // the realized work is at most Σ|cell|·(|cell|−1) ordered non-self
    // pairs before cross-cell dedup). It is the quantity the "never
    // all-pairs" claim is measured by, vs n² for brute. Also ships the
    // cell count, the realized symmetrized edge volume, and the
    // isolated-vector count (unreachable by any walk — wasted rows).
    // All counts exact integers off the persisted assignment/edge
    // relations; 1-row report.
    "ann_graph_build_cost" -> ((s, d) => {
      val sd = semdedupAssign(s, d).filter(col("vec_id") >= N_QUERIES)
      val cells = sd.groupBy("cent_id").agg(count(lit(1)).as("c"))
      val bound = cells.agg(sum(col("c") * col("c")).as("candidate_pair_bound"),
        count(lit(1)).as("n_cells")).withColumn("__k", lit(1))
      val eStats = graphEdges(s, d).agg(count(lit(1)).as("n_edges"),
        count_distinct(col("src")).as("n_connected")).withColumn("__k", lit(1))
      val nc = corpusDf(s, d).agg(count(lit(1)).as("n_corpus"))
        .withColumn("__k", lit(1))
      nc.join(broadcast(bound), "__k").join(broadcast(eStats), "__k")
        .select(col("n_corpus"), col("n_cells"), col("candidate_pair_bound"),
          col("n_edges"), (col("n_corpus") - col("n_connected")).as("n_isolated"))
    }),

    // Global clustering coefficient of the k-NN graph — the structure
    // number that EXPLAINS the tier's recall story: 3·triangles/wedges
    // measures how often two neighbors of a vector are neighbors of
    // each other. Real embedding corpora (low intrinsic dimension)
    // cluster strongly and navigate easily; near-uniform R^64 clusters
    // weakly, which is exactly why the beam curve needs the coarse
    // entry layer — this query turns that explanation into a measured
    // number, and the r15 clustered twin closes the loop: 0.035 uniform
    // vs 0.133 clustered at sf0.1 (0.064 vs 0.298 at sf0.01) — the
    // ~4× structure gap behind ann_clustered_beam_curve's saturation
    // (recall 1.0 from beam 4) on the same walk that gets 0.68 here. Scale shape: the graph has bounded out-degree, so the
    // triangle join is two hash joins over the persisted O(n·G) edge
    // relation (O(n·G²) candidate wedges — never an unbounded
    // self-join); wedges come from one degree aggregation, all counts
    // exact integers, 1-row report.
    "ann_graph_clustering" -> ((s, d) => {
      val und = graphEdges(s, d).filter(col("src") < col("dst"))
        .transform(graft.CachePool.persist) // three triangle probes
      val e1 = und.select(col("src").as("a"), col("dst").as("b"))
      val e2 = und.select(col("src").as("b2"), col("dst").as("c"))
      val e3 = und.select(col("src").as("a3"), col("dst").as("c3"))
      val tri = e1.join(e2, col("b") === col("b2"))
        .join(e3, col("a") === col("a3") && col("c") === col("c3"))
        .agg(count(lit(1)).as("n_triangles")).withColumn("__k", lit(1))
      val deg = graphEdges(s, d).groupBy("src").agg(count(lit(1)).as("dg"))
      val dw = deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("(dg * (dg - 1)) div 2")).as("n_wedges"))
        .withColumn("__k", lit(1))
      und.agg(count(lit(1)).as("n_edges")).withColumn("__k", lit(1))
        .join(broadcast(dw), "__k").join(broadcast(tri), "__k")
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
          col("n_wedges"),
          when(col("n_wedges") === 0L, lit(null).cast("double"))
            .otherwise(lit(3.0) * col("n_triangles").cast("double") /
              col("n_wedges").cast("double")).as("global_clustering"))
    }),

    // Index-health report for the graph tier (the ann_bucket_balance
    // convention applied to the small-world layer): the degree
    // histogram of the symmetrized graph. Degree G means a pure mutual
    // top-G node; anything above G is in-degree — and since in-degree
    // is data-dependent, a hub chosen by many others exceeds 2·G (the
    // probe-time hotspot class HNSW prunes back-links for; measured
    // max 18 at G=8 on sf0.001). A vector missing from the source side
    // entirely is isolated — unreachable by any walk, wasted index
    // rows. Two hash aggs over the persisted edge relation,
    // O(distinct degrees) out.
    "ann_graph_degree" -> ((s, d) => {
      graphEdges(s, d).groupBy("src").agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_vectors"))
    }),

    // Incremental ANN index maintenance — the `dedup_incremental` of
    // the vector tier. A 100 TB vector corpus is APPEND-heavy: nobody
    // re-runs Lloyd per ingest batch. The incoming batch (the newest
    // ~decile by vec_id — see [[incFence]]) is assigned to the
    // STANDING coarse cells via [[assignToCells]] (one broadcast
    // argmax per batch, no shuffle of the corpus, no training), and
    // this report prices what that shortcut COSTS: per standing cell,
    // how many batch vectors it absorbs, and how many vectors — batch
    // and standing — would sit in a DIFFERENT cell if Lloyd were
    // re-run over standing ∪ batch from the same seeds (fixed k, cell
    // ids correspond 1:1 — see [[incCents]]). Σ(n_batch_moved +
    // n_standing_moved) / n is the drift number a production index
    // watches to schedule rebuilds. All counts exact integers; both
    // Lloyd arms are the memoized planner-sized collects, the
    // assignment arms two broadcast argmaxes over one corpus scan.
    "ann_incremental" -> ((s, d) => {
      import s.implicits._
      val fence = incFence(s, d)
      val (stdC, fullC) = incCents(s, d)
      val corpus = corpusDf(s, d)
      val inc = assignToCellsUnchecked(corpus, stdC.toDF("cent_id", "ce"))
        .withColumnRenamed("cent_id", "cent_inc")
      val full = assignToCellsUnchecked(corpus, fullC.toDF("cent_id", "ce"))
        .withColumnRenamed("cent_id", "cent_full")
      val isBatch = col("vec_id") > fence
      val moved = col("cent_full") =!= col("cent_inc")
      inc.join(full, "vec_id")
        .groupBy(col("cent_inc").as("cent_id"))
        .agg(
          count(when(!isBatch, lit(1))).as("n_standing"),
          count(when(isBatch, lit(1))).as("n_batch"),
          count(when(isBatch && moved, lit(1))).as("n_batch_moved"),
          count(when(!isBatch && moved, lit(1))).as("n_standing_moved"))
    }),

    // The GRAPH half of the incremental-maintenance A/B (ann_incremental
    // prices the IVF cells): append the batch into the standing
    // small-world graph the way HNSW inserts — each batch vector probes
    // the STANDING coarse cells, takes its top-G most-similar blocked
    // candidates (standing and already-appended batch alike), and adds
    // those edges in BOTH directions; standing nodes keep every edge
    // they had and only GAIN back-links (which may push them past G —
    // the honest incremental behavior the degree census made visible).
    // The rebuilt arm re-trains the cells over standing ∪ batch (same
    // seeds) and rebuilds all edges from scratch. Both graphs are then
    // searched at the shipped beam over the same derived-stride entry
    // layer against the same brute ground truth: the 2-row report is
    // edge volume + candidates scored + recall per arm — the number
    // that decides how long an append-only index can defer a rebuild.
    // Measured (r14): sf0.001 0.98 vs 0.98; sf0.1 the APPENDED graph
    // reaches recall 0.84 vs the rebuild's 0.64 at beam 8 (20172 vs
    // 19050 edges, 6647 vs 6240 candidates) — the batch back-links
    // exceed the rebuild's mutual-top-G degree cap and act as extra
    // navigable shortcuts on near-uniform data, so the append defers
    // its rebuild for free at this scale. The r15 clustered arm
    // (ann_clustered_incremental_graph, sf0.1) answers the "real
    // corpus" hedge: both arms saturate at recall 1.0 with the append
    // carrying ~2.5% more edges (24924 vs 24314) and ~1% more
    // candidates — the append stays safe on clustered data too, and
    // the hub-overload worry shows up as edge volume, not lost recall,
    // which is what the per-arm edge/candidate columns are for.
    "ann_incremental_graph" -> ((s, d) => {
      val exact = topK(corpusDf(s, d).join(broadcast(queriesDf(s, d)))
          .withColumn("cosine", cos(col("qe"), col("e"))))
        .select("q_id", "vec_id")
        .transform(graft.CachePool.persist) // hit-join per arm
      def armRow(arm: String, tag: String, edgesFn: () => DataFrame)
          : DataFrame = {
        // singleton width set: these arms only ever search the shipped
        // beam, so the multi-width chain would walk three widths nobody
        // reads (r17 — the curve tags share their 4-width chain instead)
        val (visitedW, traceW) =
          multiBeamSearchOver(s, d, Seq(GRAPH_BEAM), tag, edgesFn)
        val (visited, trace) =
          (visitedW.filter(col("bw") === GRAPH_BEAM).drop("bw"),
            traceW.filter(col("bw") === GRAPH_BEAM).drop("bw"))
        val approx = topK(visited).select("q_id", "vec_id")
        val ne = edgesFn().agg(count(lit(1)).as("n_edges"))
        val cand = trace.agg(count(lit(1)).as("candidates_scored"))
        val hit = exact.join(approx, Seq("q_id", "vec_id"))
          .agg(count(lit(1)).as("total_hits"))
        val ex = exact.agg(count(lit(1)).as("exact_rows"))
        ne.crossJoin(broadcast(cand)).crossJoin(broadcast(hit))
          .crossJoin(broadcast(ex))
          .select(lit(arm).as("arm"), col("n_edges"),
            col("candidates_scored"), col("total_hits"),
            (col("total_hits").cast("double") /
              col("exact_rows").cast("double")).as("recall"))
      }
      armRow("appended", "inc_append", () => incAppendedEdges(s, d))
        .unionByName(armRow("rebuilt", "inc_rebuild",
          () => incRebuiltEdges(s, d)))
    }),

    // ── Clustered-cohort arms (r14 verdict #1) ─────────────────────────
    // The four decisive graph/semdedup measurements re-run over the
    // deterministic clustered cohort (see [[CLUSTERED_SFX]]): same code,
    // same operating points, second corpus shape. Read each next to its
    // uniform twin — the pair is the evidence for every "on this corpus"
    // claim in this file, now measured on BOTH corpus regimes.
    // Measured at sf0.1 (oracle-checked at sf0.01): the clustered
    // cohort VALIDATES the tier's theory end to end — the walk
    // saturates (recall 0.96 at beam 2, 1.0 from beam 4, vs 0.24/0.68
    // uniform: near-uniform R^64 really was the worst case), the hub
    // prune BINDS (beam 8: 6966 vs 8275 candidates at identical 1.0
    // recall — the ~16-30% probe saving it was built for, vs the
    // uniform wash), append-vs-rebuild is a tie at 1.0/1.0 (24924 vs
    // 24314 edges — the append stays safe on clustered data too), and
    // SemDeDup blocking recall is 0.9992 (148350/148463 true pairs —
    // clusters align with Voronoi cells, the regime the method was
    // designed for, vs 0.868 uniform).
    "ann_clustered_beam_curve" -> ((s, d) =>
      graphCurve(s, clusteredDir(d), pruned = false)),

    "ann_clustered_prune_curve" -> ((s, d) =>
      graphCurve(s, clusteredDir(d), pruned = true)),

    "ann_clustered_incremental_graph" -> ((s, d) =>
      queries("ann_incremental_graph")(s, clusteredDir(d))),

    "ann_clustered_semdedup_recall" -> ((s, d) =>
      queries("ann_semdedup_recall")(s, clusteredDir(d))),

    // The IVF half of the cohort A/B: [[PROBE_FRAC]]'s comment claims
    // "on clustered real corpora the same recall target needs a small
    // O(1) probe count — the fraction is the honest price of uniform
    // data, not an IVF constant". This measures that claim with the
    // identical probe curve.
    "ann_clustered_ivf_probe_curve" -> ((s, d) =>
      queries("ann_ivf_probe_curve")(s, clusteredDir(d))),

    // The EXPLANATION for the clustered walk's saturation, as a
    // measured number (the ann_graph_clustering convention): the global
    // clustering coefficient of the k-NN graph over the clustered
    // cohort, next to the uniform cohort's. Real embedding corpora
    // cluster strongly and navigate easily — this pair of numbers is
    // that sentence with data attached.
    "ann_clustered_graph_clustering" -> ((s, d) =>
      queries("ann_graph_clustering")(s, clusteredDir(d))),

    // The PQ/IVFADC half of the cohort A/B (r15 verdict #1) — the one
    // production-gating tier whose verdict ("near-uniform data is PQ's
    // worst case; this data needs larger codebooks before an 8-byte
    // tier ships") rested only on the uniform corpus. Clustered data
    // is precisely where codebooks concentrate, so the four
    // measurements that size the 8-byte tier re-run over the clustered
    // cohort: reconstruction error per subspace, the shipped top-k
    // search, its recall against brute force, and the refine-depth
    // curve. Measured (sf0.1, oracle-checked at sf0.01): the
    // END-TO-END verdict flips — recall 1.0 at EVERY query on the
    // clustered cohort at both SFs, vs mean 0.92 with four queries at
    // 0.8 uniform at sf0.1. Reconstruction MSE reads the other way in
    // absolute terms (mse_trained 0.043–0.050 clustered vs 0.030–0.032
    // uniform at sf0.1; 0.021–0.023 vs 0.013–0.015 at sf0.01) because
    // anchor-blending roughly doubles per-element energy — RELATIVE to
    // that 2× energy the codebooks quantize clustered data ~25%
    // tighter, and what the tier actually ships on is the rank order,
    // where cluster structure makes ADC decisive. The refine curve
    // saturates at depth 100 on clustered sf0.1 (0.64/0.86/0.98/1.0/
    // 1.0 at 10/25/50/100/200) where uniform plateaus at 0.90–0.92 —
    // the honest codebook sizing is now two-sided: k ≤ 256 8-byte
    // codes are production-ready on clustered (real-embedding-shaped)
    // corpora at HALF the shipped shortlist; only the synthetic
    // uniform worst case leaves recall on the table.
    "ann_clustered_pq_trained_error" -> ((s, d) =>
      queries("ann_pq_trained_error")(s, clusteredDir(d))),

    "ann_clustered_ivfadc_topk" -> ((s, d) =>
      queries("ann_ivfadc_topk")(s, clusteredDir(d))),

    "ann_clustered_ivfadc_recall" -> ((s, d) =>
      queries("ann_ivfadc_recall")(s, clusteredDir(d))),

    "ann_clustered_ivfadc_refine_curve" -> ((s, d) =>
      queries("ann_ivfadc_refine_curve")(s, clusteredDir(d))),

    // The HIERARCHY arm of the cohort A/B (r15 verdict #5): the layered
    // walk lost to flat on uniform data at every test SF, but hub
    // structure and long-range entry hops — the regime the middle layer
    // exists for — live on clustered corpora. Same code, same hop
    // budget, second cohort; read column-wise against
    // ann_clustered_beam_curve. Measured at sf0.1: at saturation the
    // hierarchy now WINS on cost — recall 1.0 from beam 8 on both arms,
    // with the layered walk scoring 16–21% fewer candidates (beam 8:
    // 6504 vs flat's 8275; beam 16: 9587 vs 11474), because the middle
    // segment walks a graph 1/√stride the size before touching base
    // edges; below saturation flat still leads slightly (beam 2: 0.90
    // @3010 vs 0.96 @3526). At sf0.01 BOTH arms plateau at 0.90 at
    // every beam — the same 45/50 hits, a cohort reachability ceiling
    // (five true neighbors sit across a cluster boundary no walk
    // crosses at that SF), not a hierarchy artifact — LIFTED r17 by
    // the bridge arm (ann_clustered_bridge_curve: one cross-cell edge
    // per vector recovers all five → 1.0 at every beam). The verdict
    // ladder: uniform = flat wins, clustered test-SF = hierarchy
    // matches recall at lower cost, large-stride (~3·10⁷ at 10⁹
    // vectors) = the regime it exists for, still a re-measure.
    "ann_clustered_layered_curve" -> ((s, d) =>
      graphCurveOver(s, clusteredDir(d),
        graphLayeredSearch(s, clusteredDir(d), GRAPH_BEAMS))),

    // The BRIDGE arm (r16 verdict #1 — see [[graphEdgesBridged]]): the
    // identical walk at the identical operating points over the base
    // graph plus one cross-cell link per vector, aimed at the one
    // measured recall deficit left in the tier — the sf0.01 clustered
    // 0.90 reachability ceiling (five true neighbors across a cluster
    // boundary no in-cell path crosses). Read column-wise against
    // ann_clustered_beam_curve. MEASURED r17: the ceiling LIFTS —
    // sf0.01 recall 1.0 at EVERY beam width (50/50 hits vs the plain
    // arm's 45/50 at all four widths: the five cross-boundary
    // neighbors are exactly what the bridge recovers), priced at
    // 11-22% more candidates (beam 2: 2441 vs 2204; beam 8: 5251 vs
    // 4350; beam 16: 10097 vs 8312). At sf0.1 — where the plain walk
    // already saturates — the bridge is recall-identical (0.96 at
    // beam 2, 1.0 from beam 4) for only 1-2% more candidates (beam 8:
    // 8450 vs 8275), i.e. the extra degree costs almost nothing once
    // cells are dense enough to chain. The uniform-cohort twin is
    // deliberately NOT shipped: near-uniform R^64 has no cluster
    // boundaries to bridge (the ceiling this arm targets never appears
    // there — both uniform curves already climb smoothly with beam),
    // so the pair to read is bridge-vs-plain on the cohort with
    // boundaries. Verdict for a 100 TB deployment on real embeddings:
    // turn the bridge ON — one edge per node buys the boundary
    // crossings that cap sparse-cell recall, at noise-level cost where
    // the graph is already navigable.
    "ann_clustered_bridge_curve" -> ((s, d) =>
      graphCurveOver(s, clusteredDir(d),
        multiBeamSearchOver(s, clusteredDir(d), GRAPH_BEAMS, "bridged",
          () => graphEdgesBridged(s, clusteredDir(d))))),

    // The ROTATION arm of the cohort A/B: ann_opq_rotation's honest
    // expectation on uniform data was ≈ 0 (OPQ wins by equalizing
    // per-subspace variance, which isotropic data already has), and it
    // measured so. The clustered cohort is globally ANISOTROPIC (the
    // between-anchor covariance is low-rank structure on top of the
    // isotropic residual) — but the codebooks here are per-LABEL
    // centroids, which subtract the anchors exactly, so the quantized
    // residual is the SAME isotropic noise on both cohorts and the
    // honest expectation is again ≈ 0. Measured: rotation_gain stays
    // at the noise floor on both cohorts (sf0.1: −0.005..+0.003
    // uniform vs −0.006..+0.004 clustered; sf0.01 within ±0.008) —
    // the negative result that pins down WHERE rotation pays: variance
    // imbalance must survive the coarse stage to reach the codebooks
    // (anisotropy the codebook layer already explains is not enough).
    "ann_clustered_opq_rotation" -> ((s, d) =>
      queries("ann_opq_rotation")(s, clusteredDir(d))),

    // Index-health report for the sign-LSH layout: the occupancy
    // histogram (bucket size → how many buckets hold that many vectors).
    // THE skew diagnostic for any hash-partitioned ANN index — a heavy
    // bucket is a probe-time hotspot and a dead bucket is wasted bits;
    // at 100 TB this is the report that decides when to add hyperplanes
    // or rotate them. Two hash aggs, output O(distinct sizes) rows.
    "ann_bucket_balance" -> ((s, d) => {
      corpusDf(s, d)
        .withColumn("bucket", VectorOps.signBucket(col("e"), LSH_DIMS))
        .groupBy("bucket").agg(count(lit(1)).as("bucket_size"))
        .groupBy("bucket_size").agg(count(lit(1)).as("n_buckets"))
    }),

    "ann_lsh_bucket" -> ((s, d) => {
      val bucketed = corpusDf(s, d)
        .withColumn("bucket", VectorOps.signBucket(col("e"), LSH_DIMS))
      val qb = queriesDf(s, d)
        .withColumn("bucket", VectorOps.signBucket(col("qe"), LSH_DIMS))
      val scored = qb.join(bucketed, "bucket")
        .withColumn("cosine", cos(col("qe"), col("e")))
      topK(scored)
    }),

    // Per-dimension corpus statistics — the embedding-quality screen run
    // before indexing any vector corpus: a dead dimension (variance ≈ 0)
    // wastes index bits, a runaway one (|mean| ≫ others) dominates L2
    // and should be centered, and min/max bound the int8 scale choice.
    // One posexplode + one hash agg keyed by dim: O(rows·d) map work
    // into exactly d output rows, no payload shuffle (scan-scales at
    // any corpus size). Determinism toolkit as the centroid/int8 ops:
    // means through the 2^30 (resp. 2^40 for squares) integer grid so
    // the sums are order-independent longs; variance is then two exact
    // IEEE ops over engine-identical doubles; min/max exact.
    "ann_dim_stats" -> ((s, d) => {
      val Q = 1073741824.0    // 2^30
      val Q2 = 1099511627776.0 // 2^40
      Tables.embeddings(s, d)
        .transform(Tables.spread(_, col("vec_id")))
        .select(VectorOps.asDouble(col("embedding")).as("e"))
        .select(posexplode(col("e")).as(Seq("dim", "val")))
        .groupBy(col("dim").cast("long").as("dim"))
        .agg(count(lit(1)).as("n_values"),
          (sum(floor(col("val") * Q + 0.5)).cast("double") / Q /
            count(lit(1)).cast("double")).as("mean_val"),
          min("val").as("min_val"), max("val").as("max_val"),
          (sum(floor(col("val") * col("val") * Q2 + 0.5)).cast("double") /
            Q2 / count(lit(1)).cast("double")).as("mean_sq"))
        .withColumn("var_val",
          col("mean_sq") - col("mean_val") * col("mean_val"))
        .drop("mean_sq")
    }),

    // Full covariance matrix of the embedding corpus (upper triangle
    // incl. diagonal) — the sufficient statistic for PCA whitening /
    // decorrelation before quantization or IVF training. Map work is
    // the honest O(rows·d²) of exact covariance; the shuffle is only
    // d(d+1)/2 partial-agg groups per map partition (2,080 for d=64),
    // so the corpus itself never moves — scan-scales like the dim-stats
    // screen. Determinism: every sum crosses the integer grid as a LONG
    // (2^30 per-dim means, 2^40 products) so partial-agg order can't
    // change a bit; cov = E[xy] − E[x]E[y] is then three exact
    // conversions and three IEEE ops over engine-identical doubles.
    // Overflow bound: n·2^40 < 2^63 holds to ~8.4M rows for |x| ≤ 1
    // (shard-and-merge or drop to a 2^35 grid beyond that) — ENFORCED:
    // a corpus past the bound fails loudly at construction instead of
    // silently wrapping the LONG grid (see covarianceRowBound).
    "ann_covariance" -> ((s, d) => {
      val Q = 1073741824.0    // 2^30
      val Q2 = 1099511627776.0 // 2^40
      covarianceRowBound(Tables.embeddings(s, d).count())
      // r17 (guide §2.5, input parallelism): embeddings at the test SFs
      // is ONE parquet split, and the O(rows·d²) grid expansion + its
      // partial aggregation — the whole cost of this query — ran in a
      // single task. One exchange of the raw rows buys a cores-wide map
      // stage; LONG grid sums are order-free, so partitioning cannot
      // change a bit.
      Tables.embeddings(s, d)
        .transform(Tables.spread(_, col("vec_id")))
        .select(VectorOps.asDouble(col("embedding")).as("e"))
        .select(col("e"), posexplode(col("e")).as(Seq("i", "vi")))
        .select(col("i"), col("vi"),
          explode(transform(sequence(col("i"), size(col("e")) - 1),
            j => struct(j.as("j"), col("e")(j).as("vj")))).as("p"))
        .groupBy(col("i").cast("long").as("dim_i"),
          col("p.j").cast("long").as("dim_j"))
        .agg(count(lit(1)).as("n_rows"),
          (sum(floor(col("vi") * Q + 0.5).cast("long")).cast("double") / Q /
            count(lit(1)).cast("double")).as("mi"),
          (sum(floor(col("p.vj") * Q + 0.5).cast("long")).cast("double") / Q /
            count(lit(1)).cast("double")).as("mj"),
          (sum(floor(col("vi") * col("p.vj") * Q2 + 0.5).cast("long"))
            .cast("double") / Q2 / count(lit(1)).cast("double")).as("mp"))
        .select(col("dim_i"), col("dim_j"), col("n_rows"),
          (col("mp") - col("mi") * col("mj")).as("cov"))
    }),

    // The SCALE PATH past ann_covariance's ~8.4M-row LONG-grid bound:
    // shard rows by vec_id, accumulate each shard's grid sums as LONG
    // (per-shard bound: ns·2^40 < 2^63), merge shard totals through
    // DECIMAL(38,0) — exact at any corpus size. The merge is a pure
    // re-association of the SAME integer sums, and both the LONG→double
    // and scale-0-decimal→double conversions are single correctly-
    // rounded casts of the same integer, so the output is BIT-IDENTICAL
    // to the flat form (asserted in MiningSpec) and shares its oracle.
    // Cost shape is unchanged — the extra shard key adds one partial-agg
    // level (COV_SHARDS·d²/2 groups), the corpus still never shuffles.
    "ann_covariance_sharded" -> ((s, d) => {
      val Q = 1073741824.0    // 2^30
      val Q2 = 1099511627776.0 // 2^40
      covarianceShardBound(Tables.embeddings(s, d).count())
      // r17: same load-bearing repartition as ann_covariance (the
      // one-split scan put the whole O(rows·d²) stage on one core)
      Tables.embeddings(s, d)
        .transform(Tables.spread(_, col("vec_id")))
        .select((col("vec_id") % COV_SHARDS).as("shard"),
          VectorOps.asDouble(col("embedding")).as("e"))
        .select(col("shard"), col("e"), posexplode(col("e")).as(Seq("i", "vi")))
        .select(col("shard"), col("i"), col("vi"),
          explode(transform(sequence(col("i"), size(col("e")) - 1),
            j => struct(j.as("j"), col("e")(j).as("vj")))).as("p"))
        .groupBy(col("shard"), col("i").cast("long").as("dim_i"),
          col("p.j").cast("long").as("dim_j"))
        .agg(count(lit(1)).as("ns"),
          sum(floor(col("vi") * Q + 0.5).cast("long")).as("sx"),
          sum(floor(col("p.vj") * Q + 0.5).cast("long")).as("sy"),
          sum(floor(col("vi") * col("p.vj") * Q2 + 0.5).cast("long")).as("sxy"))
        .groupBy("dim_i", "dim_j")
        .agg(sum("ns").as("n_rows"),
          sum(col("sx").cast("decimal(38,0)")).as("gx"),
          sum(col("sy").cast("decimal(38,0)")).as("gy"),
          sum(col("sxy").cast("decimal(38,0)")).as("gxy"))
        .select(col("dim_i"), col("dim_j"), col("n_rows"),
          ((col("gxy").cast("double") / Q2 / col("n_rows").cast("double")) -
            (col("gx").cast("double") / Q / col("n_rows").cast("double")) *
            (col("gy").cast("double") / Q / col("n_rows").cast("double")))
            .as("cov"))
    }),

    // Embedding-health similarity SPECTRUM: histogram of corpus-vs-
    // probe cosine similarities in 0.1-wide bands — the collapsed-
    // embedding / anisotropy screen (healthy high-dim embeddings
    // concentrate near 0 against random probes; a collapsed or
    // poorly-whitened space piles mass in the top bands, and that shift
    // shows up here before any ANN recall number degrades). Probe set =
    // the N_QUERIES query vectors, broadcast — pair count is
    // corpus × |probes|, LINEAR in the corpus, never a pair self-join;
    // the output is ≤ 21 band rows. Banding floors 10·cosine on the
    // bitwise-identical doubles both engines already rank with, so the
    // histogram is engine-exact.
    "ann_similarity_histogram" -> ((s, d) => {
      corpusDf(s, d).join(broadcast(queriesDf(s, d)))
        .withColumn("cosine", cos(col("qe"), col("e")))
        .groupBy(floor(col("cosine") * 10).cast("int").as("band"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("vec_id")).as("n_vectors"))
    }),

    // The refine-depth half of the IVFADC tuning space (nprobe is the
    // other half — ann_ivf_probe_curve): how much recall does each
    // tier of the full-precision re-rank buy? At 100 TB the refine
    // stage is the part that touches 256-byte vectors instead of
    // 8-byte codes, so depth is THE knob trading read bandwidth for
    // recall — this measures it at 10/25/50/100/200 candidates per
    // query with one shared ADC pass (the persisted scored relation is
    // re-cut per depth, exactly the probe-curve shape). Report: 5
    // rows, integer hits, one IEEE division.
    "ann_ivfadc_refine_curve" -> ((s, d) => {
      // ONE depth-tagged re-rank over the SHARED persisted pool (see
      // [[ivfadcScored]]) against the shared ground truth — the curve
      // [[adcShortlist]] derives the shipped depth from. r17 (the
      // multi-width-walk convention): each pool row explodes into the
      // grid depths that include it (dp ≥ srn), so one window + one
      // hit-join grouped by dp replace five per-depth re-ranks over
      // the same cached rows; per-depth rows are identical by
      // construction (srn ≤ dp ⟺ membership, ordering unchanged).
      val sc = ivfadcScored(s, d)
      val exact = annExactTopK(s, d)
      val w = Window.partitionBy("dp", "q_id")
        .orderBy(col("cosine").desc, col("vec_id"))
      val approx = sc.withColumn("dp", explode(filter(
          array(ADC_DEPTHS.map(x => lit(x)): _*), b => b >= col("srn"))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= TOP_K)
        .select("dp", "q_id", "vec_id")
      val hit = exact.join(approx, Seq("q_id", "vec_id"))
        .groupBy("dp").agg(count(lit(1)).as("total_hits"))
      val ex = exact.agg(count(lit(1)).as("exact_rows"))
      import s.implicits._
      ADC_DEPTHS.toDF("dp").join(hit, Seq("dp"), "left")
        .crossJoin(broadcast(ex))
        .select(col("dp").cast("int").as("refine_depth"),
          coalesce(col("total_hits"), lit(0L)).as("total_hits"),
          (coalesce(col("total_hits"), lit(0L)).cast("double") /
            col("exact_rows").cast("double")).as("recall"))
        .orderBy("refine_depth")
    }),

    // The IVF tuning curve — recall vs candidates-scored at nprobe ∈
    // {1,2,4,8}, the dedup_lsh_tradeoff convention applied to the ANN
    // tier: the number an operator actually tunes against, measured
    // exactly instead of guessed from the paper's corpus. One shared
    // assignment pass and ONE probe pass tagged with probe rank (a
    // corpus vector lives in exactly one cell, so each (q, vec) is
    // scored at most once and "candidates" is a plain row count); the
    // persisted scored relation is then re-ranked per budget — four
    // windows over the SAME cached rows, no recomputation, plus the
    // declared brute-force ground truth (whitelisted baseline). The
    // report is 4 rows; every count integer, recall one IEEE division.
    // 100 TB: the curve costs one assignment + one probe scan more
    // than ann_ivf_topk itself — this is the cheap experiment you run
    // BEFORE fixing nprobe fleet-wide.
    "ann_ivf_probe_curve" -> ((s, d) => {
      val cents = centroidsDf(s, d)
      val wAssign = Window.partitionBy("vec_id")
        .orderBy(col("ccos").desc, col("cent_id"))
      val assign = corpusDf(s, d)
        .join(broadcast(cents))
        .withColumn("ccos", cos(col("e"), col("ce")))
        .withColumn("arn", row_number().over(wAssign))
        .filter(col("arn") === 1)
        .select(col("vec_id"), col("e"), col("cent_id"))
      val wProbe = Window.partitionBy("q_id")
        .orderBy(col("qcos").desc, col("cent_id"))
      val probe8 = queriesDf(s, d)
        .join(broadcast(cents))
        .withColumn("qcos", cos(col("qe"), col("ce")))
        .withColumn("prn", row_number().over(wProbe))
        .filter(col("prn") <= 8)
        .select(col("q_id"), col("qe"), col("cent_id"), col("prn"))
      val scored = probe8.join(assign, "cent_id")
        .withColumn("cosine", cos(col("qe"), col("e")))
        .select("q_id", "vec_id", "cosine", "prn")
        .transform(graft.CachePool.persist) // 4 budgets re-rank these rows
      val exact = topK(corpusDf(s, d).join(broadcast(queriesDf(s, d)))
          .withColumn("cosine", cos(col("qe"), col("e"))))
        .select("q_id", "vec_id")
        .transform(graft.CachePool.persist) // hit-join per budget
      // r17 (the multi-width-walk convention): one budget-tagged pass —
      // each scored row explodes into the budgets that include it
      // (np ≥ prn), so one window + one hit-join + one ledger count
      // grouped by np replace four per-budget re-ranks of the same
      // cached rows. The budget spine LEFT-joins the grouped counts so
      // an empty corpus still reports all four budgets with zero
      // counts, exactly as the per-budget aggregates did.
      val budgets = Seq(1, 2, 4, 8)
      val tagged = scored.withColumn("np", explode(filter(
        array(budgets.map(x => lit(x)): _*), b => b >= col("prn"))))
      val w = Window.partitionBy("np", "q_id")
        .orderBy(col("cosine").desc, col("vec_id"))
      val approx = tagged.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= TOP_K)
        .select("np", "q_id", "vec_id")
      val cand = tagged.groupBy("np").agg(count(lit(1)).as("candidates"))
      val hit = exact.join(approx, Seq("q_id", "vec_id"))
        .groupBy("np").agg(count(lit(1)).as("total_hits"))
      val ex = exact.agg(count(lit(1)).as("exact_rows"))
      import s.implicits._
      budgets.toDF("np")
        .join(cand, Seq("np"), "left").join(hit, Seq("np"), "left")
        .crossJoin(broadcast(ex))
        .select(col("np").cast("int").as("nprobe"),
          coalesce(col("candidates"), lit(0L)).as("candidates"),
          coalesce(col("total_hits"), lit(0L)).as("total_hits"),
          (coalesce(col("total_hits"), lit(0L)).cast("double") /
            col("exact_rows").cast("double")).as("recall"))
        .orderBy("nprobe")
    }),

    // Hybrid retrieval fusion — the modern RAG-retrieval shape: a
    // sparse (inverted-index keyword) ranker and a dense (embedding
    // cosine) ranker each produce a top-K shortlist, fused into one
    // list by BORDA COUNT (a doc earns K+1−rank points per list it
    // appears on). Borda is the integer-exact cousin of RRF
    // (reciprocal-rank fusion, Cormack et al. SIGIR'09): RRF's
    // Σ 1/(60+r) would put float division in the SHIPPED score, while
    // Borda keeps the fused score an exact BIGINT — ranks, not raw
    // scores, cross the modality boundary either way, which is the
    // property that makes fusion calibration-free. Scale: each side is
    // its family's standing probe (only query-term postings move; the
    // corpus embedding scan never shuffles), each shortlist arrives via
    // distributed TakeOrdered, and the rank pass + full-outer fuse run
    // over two ≤K-row relations (the partitionless windows are bounded
    // by construction — whitelisted in PlanQualitySpec).
    "search_hybrid_fusion" -> ((s, d) => {
      val K = FUSION_K
      val docs = Tables.documents(s, d)
      val n = docs.agg(count(lit(1)).as("n_docs")).withColumn("__k", lit(1))
      val tf = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        .filter(col("term").isin(FUSION_TOKS: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val kwTop = tf.join(broadcast(dfreq), "term")
        .withColumn("__k", lit(1)).join(broadcast(n), "__k")
        .groupBy("doc_id")
        .agg(sum(col("tf") * expr("n_docs div df")).as("kw_score"))
        .orderBy(col("kw_score").desc, col("doc_id")).limit(K)
      val kwRank = kwTop.withColumn("kw_rank",
        row_number().over(Window.orderBy(col("kw_score").desc, col("doc_id"))))
        .select(col("doc_id"), col("kw_rank"))
      val probe = queriesDf(s, d).filter(col("q_id") === 0)
      val vecTop = corpusDf(s, d).join(broadcast(probe))
        .withColumn("cosine", cos(col("qe"), col("e")))
        .select(col("vec_id"), col("cosine"))
        .orderBy(col("cosine").desc, col("vec_id")).limit(K)
      val vecRank = vecTop.withColumn("vec_rank",
        row_number().over(Window.orderBy(col("cosine").desc, col("vec_id"))))
        .select(col("vec_id").as("doc_id"), col("vec_rank"))
      kwRank.join(vecRank, Seq("doc_id"), "full_outer")
        .withColumn("borda",
          (coalesce(lit(K + 1) - col("kw_rank"), lit(0)) +
            coalesce(lit(K + 1) - col("vec_rank"), lit(0))).cast("long"))
        .select(col("doc_id"), col("kw_rank").cast("int").as("kw_rank"),
          col("vec_rank").cast("int").as("vec_rank"), col("borda"))
        .orderBy(col("borda").desc, col("doc_id")).limit(20)
    }),

    // MMR diversification re-rank (Carbonell & Goldstein '98) — the
    // RAG-retrieval stage after fusion: a top-k that is all
    // near-duplicates of the best hit wastes the context window, so
    // each pick maximizes λ·relevance − (1−λ)·max-similarity-to-picked.
    // λ is pinned to 0.5 (both halves exact in binary, so the shipped
    // score is one subtraction of engine-identical cosines).
    // [[MMR_K]] greedy rounds unrolled over the per-query
    // [[MMR_SHORTLIST]] (the candidate set a first-stage ranker
    // already bounded — MMR is always a SHORTLIST re-rank, never a
    // corpus scan): each round is one bounded per-query window + two
    // equi-joins on q_id against ≤K picked rows, every relation
    // O(queries · shortlist), and the picked set is lazily
    // checkpointed per round (it appears twice in the next round's
    // tree — the plan-doubling gotcha).
    "search_mmr_rerank" -> ((s, d) => {
      val wS = Window.partitionBy("q_id").orderBy(col("rel").desc, col("vec_id"))
      val short = corpusDf(s, d).join(broadcast(queriesDf(s, d)))
        .withColumn("rel", cos(col("qe"), col("e")))
        .withColumn("srn", row_number().over(wS))
        .filter(col("srn") <= MMR_SHORTLIST)
        .select("q_id", "vec_id", "rel", "e")
      // r17 (guide §1.2 / §4): the greedy rounds are LOCAL to a query's
      // ≤[[MMR_SHORTLIST]]-row candidate set by definition, so the
      // whole selection runs as array expressions over ONE collected
      // shortlist row per query — the 5 unrolled rounds of
      // anti-join + join + grouped-max + window (≈20 tiny jobs per
      // pass, no memo) become 5 per-row Projects. Numerics are
      // unchanged: the same cosine_sim kernel scores candidate×picked
      // (array_max = the grouped MAX), the same
      // 0.5·rel − 0.5·coalesce(max_sim, 0) is compared with the same
      // (mmr desc, vec_id asc) tie-break the old window used, and the
      // per-round localCheckpoint keeps Catalyst from collapsing the
      // round Projects into one exponentially-substituted expression
      // (the plan-doubling gotcha's expression-level face).
      val pickedT =
        "array<struct<mmr_rank:int,vec_id:bigint,rel:double,mmr:double>>"
      var st = short.groupBy("q_id")
        .agg(array_sort(collect_list(struct(col("vec_id"), col("rel"),
          col("e")))).as("cands"))
        .withColumn("picked", expr(s"CAST(array() AS $pickedT)"))
        .localCheckpoint(eager = false)
      for (r <- 1 to MMR_K) {
        st = st.withColumn("picked", expr(s"""
          |CASE WHEN best$r IS NULL THEN picked
          |     ELSE array_append(picked, named_struct(
          |       'mmr_rank', $r, 'vec_id', best$r.vec_id,
          |       'rel', best$r.rel, 'mmr', best$r.mmr)) END
          |""".stripMargin
          .replace(s"best$r", s"""
            |aggregate(
            |  transform(
            |    filter(cands, c -> NOT exists(picked,
            |      p -> p.vec_id = c.vec_id)),
            |    c -> named_struct(
            |      'mmr', 0.5D * c.rel - 0.5D * coalesce(
            |        array_max(transform(
            |          filter(cands, p0 -> exists(picked,
            |            pp -> pp.vec_id = p0.vec_id)),
            |          p0 -> cosine_sim(c.e, p0.e))), 0.0D),
            |      'vec_id', c.vec_id, 'rel', c.rel)),
            |  CAST(NULL AS struct<mmr:double,vec_id:bigint,rel:double>),
            |  (acc, x) -> CASE
            |    WHEN acc IS NULL THEN x
            |    WHEN x.mmr > acc.mmr THEN x
            |    WHEN x.mmr = acc.mmr AND x.vec_id < acc.vec_id THEN x
            |    ELSE acc END)
            |""".stripMargin)))
          .localCheckpoint(eager = false)
      }
      st.select(col("q_id"), explode(col("picked")).as("p"))
        .select(col("q_id"), col("p.mmr_rank").as("mmr_rank"),
          col("p.vec_id").as("vec_id"), col("p.rel").as("relevance"),
          col("p.mmr").as("mmr"))
    }),

    // Top principal component by POWER ITERATION — the one-vector slice
    // of PCA that answers the embedding-ops questions a full
    // decomposition is overkill for: how anisotropic is the space (the
    // dominant eigenvalue vs the trace — cosine similarity degrades
    // when one direction eats the variance), and which dims carry it
    // (mean-center along v before trusting cosine, the standard
    // anisotropy fix). Exactness: the d×d covariance comes from the
    // ann_covariance integer grid (exact); iteration happens on the
    // COLLECTED 64×64 matrix — d² doubles, the planner-sized
    // centroid-collect convention, NOT a data-sized collect — with
    // every fold in ascending-index order via seedless reduceLeft,
    // token-for-token the oracle's list_reduce(list(... ORDER BY ...))
    // chain, so all 3 iterations, the norms, and the Rayleigh quotient
    // are bitwise-mirrored. v₀ = all-ones makes the iteration fully
    // deterministic (no RNG, no sign ambiguity).
    "ann_top_component" -> ((s, d) => {
      val (v, lambda, _) = powerIterate(s, d)
      import s.implicits._
      v.zipWithIndex.map { case (x, i) => (i.toLong, x, lambda) }.toSeq
        .toDF("dim", "loading", "eigenvalue")
    }),

    // The one-number readout of the component above: λ₁ / trace(C) —
    // the variance share the dominant direction eats. Near 1/d the
    // space is isotropic and raw cosine is trustworthy; large shares
    // mean every similarity is secretly "how much of the rogue
    // direction do both vectors carry" and the mean/top-component
    // should be projected out first (Mu & Viswanath, ICLR'18's
    // all-but-the-top observation). trace folds the diagonal in
    // ascending dim — the same seedless ordered reduce as everything
    // else in the chain.
    "ann_anisotropy_ratio" -> ((s, d) => {
      val (v, lambda, c) = powerIterate(s, d)
      val trace = (0 until DIM).map(i => c(i)(i)).reduceLeft(_ + _)
      val topDim = (0 until DIM)
        .sortBy(i => (-math.abs(v(i)), i)).head.toLong
      import s.implicits._
      Seq((lambda, trace, lambda / trace, topDim))
        .toDF("eigenvalue", "trace", "anisotropy_ratio", "top_dim")
    }),

    // Embedding/text ALIGNMENT screen — the curation sanity check that
    // should run before anyone trusts an embedding column for semantic
    // dedup or retrieval: pairs the text pipeline CALLS duplicates
    // (exact fingerprint cliques) against a content-independent control
    // (adjacent-id pairs) and reports each band's mean cosine. If the
    // dup band doesn't separate from the control, the embeddings don't
    // encode the text and every `ann_semdedup`-style decision built on
    // them is noise. Exactness: per-pair cosines land on the 2^40
    // integer grid (the ann_dim_stats convention) so the mean is an
    // order-free integer sum + one mirrored double division. Scale:
    // dup pairs are clique-bounded (Σ k²) equi-joins on the
    // fingerprint, the control is a linear id+1 self-join, and both
    // cosine lookups are (id)-co-partitioned equi-joins — no pair
    // explosion anywhere.
    "ann_text_alignment" -> ((s, d) => {
      val Q = 1099511627776.0 // 2^40 — the ann_dim_stats grid
      val fp = Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("fp"),
          md5(array_join(slice(split(col("text"), " "), 1, 8), " "))
            .as("pfp"))
        .transform(graft.CachePool.persist) // two dup joins + control
      def pairsOn(key: String, band: String) =
        fp.as("a").join(fp.as("b"),
            col(s"a.$key") === col(s"b.$key") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"),
            lit(band).as("band"))
      val adj = fp.select(col("doc_id").as("ida"),
        (col("doc_id") + 1).as("idb"), lit("adjacent").as("band"))
      val e = emb(s, d)
      pairsOn("fp", "exact_dup")
        .unionByName(pairsOn("pfp", "prefix8_dup"))
        .unionByName(adj)
        .join(e.select(col("vec_id").as("ida"), col("e").as("ea")), "ida")
        .join(e.select(col("vec_id").as("idb"), col("e").as("eb")), "idb")
        .withColumn("g",
          floor(cos(col("ea"), col("eb")) * Q + lit(0.5)).cast("long"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_pairs"),
          (sum("g").cast("double") /
            (count(lit(1)).cast("double") * Q)).as("mean_cosine"))
        .orderBy("band")
    })
  )

  private val cosQC = VectorOps.cosineSql("qe", "e", 64)
  private val baseSql =
    """WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |q AS (SELECT vec_id AS q_id, e AS qe FROM ev WHERE vec_id < 10),
      |corpus AS (SELECT vec_id, e FROM ev WHERE vec_id >= 10)""".stripMargin

  /** The clustered cohort's base CTEs — the exact SQL mirror of the
    * [[CLUSTERED_SFX]] branch of [[emb]]: per-label anchor = the
    * label's smallest-vec_id embedding; every vector blended
    * element-wise `anchor[i] + e[i]` (one IEEE add, both engines
    * bitwise-identical). Exports the same ev / q / corpus names as
    * [[baseSql]], so every chain builder runs unchanged over it.
    */
  private lazy val clusteredBaseSql =
    s"""WITH ev0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
       |  FROM embeddings),
       |anch AS (SELECT label, e AS ae FROM (
       |  SELECT label, e, row_number() OVER (PARTITION BY label
       |    ORDER BY vec_id) AS arn FROM ev0) t WHERE arn = 1),
       |ev AS MATERIALIZED (SELECT vec_id,
       |    list_transform(range(1, ${DIM + 1}), i -> ae[i] + e[i]) AS e
       |  FROM ev0 JOIN anch USING (label)),
       |q AS (SELECT vec_id AS q_id, e AS qe FROM ev WHERE vec_id < 10),
       |corpus AS (SELECT vec_id, e FROM ev WHERE vec_id >= 10)""".stripMargin

  private def annBruteSqlOver(base: String) =
    s"""$base,
       |scored AS (SELECT q_id, vec_id, $cosQC AS cosine FROM q, corpus),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |  ORDER BY cosine DESC, vec_id) AS rn FROM scored)
       |SELECT q_id, vec_id, cosine, CAST(rn AS INT) AS rn
       |FROM ranked WHERE rn <= $TOP_K""".stripMargin

  private lazy val annBruteSql = annBruteSqlOver(baseSql)

  /** The oracle's centroid refinement chain — the IDENTICAL Lloyd
    * passes as [[centroidsDf]]: decimal-exact elementwise sums divided
    * as doubles, so centroids (and everything downstream) match Spark
    * bitwise.
    */
  private lazy val centsSqlChain: String = {
    val sb = new StringBuilder(
      s"cents_0 AS (SELECT vec_id AS cent_id, e AS ce FROM ev WHERE vec_id % $CENT_STRIDE = 0)")
    for (i <- 1 to REFINE_ITERS) {
      sb.append(s""",
         |assign_$i AS (SELECT vec_id, e, cent_id FROM (
         |  SELECT corpus.vec_id, corpus.e, cent_id,
         |    row_number() OVER (PARTITION BY corpus.vec_id
         |      ORDER BY ${VectorOps.cosineSql("corpus.e", "ce", DIM)} DESC, cent_id) AS arn
         |  FROM corpus, cents_${i - 1}) t WHERE arn = 1),
         |means_$i AS (SELECT cent_id, dim,
         |  CAST(SUM(CAST(val AS DECIMAL(38,10))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mval
         |  FROM (SELECT cent_id, generate_subscripts(e, 1) AS dim, unnest(e) AS val
         |    FROM assign_$i) u
         |  GROUP BY cent_id, dim),
         |cents_$i AS (SELECT cent_id, array_agg(mval ORDER BY dim) AS ce
         |  FROM means_$i GROUP BY cent_id)""".stripMargin)
    }
    sb.toString
  }

  /** The incremental A/B's oracle chain — [[centsSqlChain]] generalized
    * to (assignment input, CTE suffix); BOTH arms seed from the
    * `standing` CTE's stride sample, mirroring [[incCents]]. Kept
    * separate from centsSqlChain so the established oracles stay
    * byte-identical.
    */
  private def incCentsChainSql(input: String, sfx: String): String = {
    val sb = new StringBuilder(
      s"""cents_${sfx}_0 AS (SELECT vec_id AS cent_id, e AS ce
         |  FROM standing WHERE vec_id % $CENT_STRIDE = 0)""".stripMargin)
    for (i <- 1 to REFINE_ITERS) {
      sb.append(s""",
         |assign_${sfx}_$i AS (SELECT vec_id, e, cent_id FROM (
         |  SELECT $input.vec_id, $input.e, cent_id,
         |    row_number() OVER (PARTITION BY $input.vec_id
         |      ORDER BY ${VectorOps.cosineSql(s"$input.e", "ce", DIM)} DESC, cent_id) AS arn
         |  FROM $input, cents_${sfx}_${i - 1}) t WHERE arn = 1),
         |means_${sfx}_$i AS (SELECT cent_id, dim,
         |  CAST(SUM(CAST(val AS DECIMAL(38,10))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mval
         |  FROM (SELECT cent_id, generate_subscripts(e, 1) AS dim, unnest(e) AS val
         |    FROM assign_${sfx}_$i) u
         |  GROUP BY cent_id, dim),
         |cents_${sfx}_$i AS (SELECT cent_id, array_agg(mval ORDER BY dim) AS ce
         |  FROM means_${sfx}_$i GROUP BY cent_id)""".stripMargin)
    }
    sb.toString
  }

  /** ann_incremental oracle: the fence scalar, the two Lloyd arms from
    * the shared standing seeds, the two argmax assignments of the SAME
    * full corpus, and the per-cell drift census — each stage the
    * engine-mirrored shape its Spark twin uses.
    */
  private lazy val annIncrementalSql = {
    def argmax(cents: String, outCol: String) =
      s"""(SELECT vec_id, cent_id AS $outCol FROM (
         |  SELECT corpus.vec_id, cent_id,
         |    row_number() OVER (PARTITION BY corpus.vec_id
         |      ORDER BY ${VectorOps.cosineSql("corpus.e", "ce", DIM)} DESC, cent_id) AS arn
         |  FROM corpus, $cents) t WHERE arn = 1)""".stripMargin
    s"""$baseSql,
       |fen AS (SELECT MAX(vec_id) - CAST(ceil(COUNT(*) / $INC_BATCH_DIV.0) AS BIGINT) AS fence
       |  FROM corpus),
       |standing AS (SELECT vec_id, e FROM corpus
       |  WHERE vec_id <= (SELECT fence FROM fen)),
       |${incCentsChainSql("standing", "std")},
       |${incCentsChainSql("corpus", "full")},
       |inc AS ${argmax(s"cents_std_$REFINE_ITERS", "cent_inc")},
       |ful AS ${argmax(s"cents_full_$REFINE_ITERS", "cent_full")}
       |SELECT cent_inc AS cent_id,
       |  COUNT(*) FILTER (WHERE vec_id <= (SELECT fence FROM fen)) AS n_standing,
       |  COUNT(*) FILTER (WHERE vec_id > (SELECT fence FROM fen)) AS n_batch,
       |  COUNT(*) FILTER (WHERE vec_id > (SELECT fence FROM fen)
       |    AND cent_full <> cent_inc) AS n_batch_moved,
       |  COUNT(*) FILTER (WHERE vec_id <= (SELECT fence FROM fen)
       |    AND cent_full <> cent_inc) AS n_standing_moved
       |FROM inc JOIN ful USING (vec_id)
       |GROUP BY cent_inc""".stripMargin
  }

  /** ann_incremental_graph oracle: the two incremental Lloyd arms, the
    * multi-probe assignments, the standing-build + batch-append edge
    * set vs the full rebuild, and one beam search per arm over the
    * shared entry layer — every stage the engine-mirrored shape its
    * Spark twin uses ([[graphSearchSql]] runs the search itself).
    */
  private def annIncrementalGraphSqlOver(base: String) = {
    def probe(src: String, cents: String, name: String) =
      s"""$name AS MATERIALIZED (SELECT vec_id, e, cent_id FROM (
         |  SELECT $src.vec_id, $src.e, cent_id,
         |    row_number() OVER (PARTITION BY $src.vec_id
         |      ORDER BY ${VectorOps.cosineSql(s"$src.e", "ce", DIM)} DESC, cent_id) AS arn
         |  FROM $src, $cents) t WHERE arn <= $SEMDEDUP_PROBES)""".stripMargin
    val cosAB = VectorOps.cosineSql("a.e", "b.e", DIM)
    def topG(aCte: String, bCte: String, name: String) =
      s"""$name AS (SELECT src, dst, sim FROM (SELECT src, dst, sim,
         |    row_number() OVER (PARTITION BY src
         |      ORDER BY sim DESC, dst) AS ern
         |  FROM (SELECT a.vec_id AS src, b.vec_id AS dst, MAX($cosAB) AS sim
         |    FROM $aCte a JOIN $bCte b
         |      ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
         |    GROUP BY 1, 2) c) t WHERE ern <= $GRAPH_DEGREE)""".stripMargin
    def armSelect(arm: String, edges: String, tag: String) = {
      val scoredSum = (s"(SELECT COUNT(*) FROM gv0_$tag)" +:
        (1 to GRAPH_HOPS).map(h => s"(SELECT COUNT(*) FROM gs${h}_$tag)"))
        .mkString(" + ")
      s"""(SELECT '$arm' AS arm,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $edges) AS n_edges,
         |  CAST($scoredSum AS BIGINT) AS candidates_scored,
         |  (SELECT COUNT(*) FROM exact e JOIN
         |    (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |        row_number() OVER (PARTITION BY q_id
         |          ORDER BY cosine DESC, vec_id) AS rn
         |      FROM gv${GRAPH_HOPS}_$tag) t WHERE rn <= $TOP_K) a
         |    ON e.q_id = a.q_id AND e.vec_id = a.vec_id) AS total_hits,
         |  (SELECT COUNT(*) FROM exact) AS exact_rows)""".stripMargin
    }
    s"""$base,
       |fen AS (SELECT MAX(vec_id) - CAST(ceil(COUNT(*) / $INC_BATCH_DIV.0) AS BIGINT) AS fence
       |  FROM corpus),
       |standing AS (SELECT vec_id, e FROM corpus
       |  WHERE vec_id <= (SELECT fence FROM fen)),
       |batch AS (SELECT vec_id, e FROM corpus
       |  WHERE vec_id > (SELECT fence FROM fen)),
       |${incCentsChainSql("standing", "std")},
       |${incCentsChainSql("corpus", "full")},
       |${probe("standing", s"cents_std_$REFINE_ITERS", "sassign")},
       |${probe("batch", s"cents_std_$REFINE_ITERS", "bassign")},
       |aassign AS (SELECT * FROM sassign UNION ALL SELECT * FROM bassign),
       |${topG("sassign", "sassign", "sedges0")},
       |ssym AS (SELECT src, dst, MAX(sim) AS sim FROM (
       |  SELECT src, dst, sim FROM sedges0
       |  UNION ALL SELECT dst AS src, src AS dst, sim FROM sedges0) u
       |  GROUP BY 1, 2),
       |${topG("bassign", "aassign", "btop")},
       |appended AS MATERIALIZED (SELECT src, dst FROM (
       |  SELECT src, dst FROM ssym
       |  UNION ALL SELECT src, dst FROM btop
       |  UNION ALL SELECT dst AS src, src AS dst FROM btop) u
       |  GROUP BY 1, 2),
       |${probe("corpus", s"cents_full_$REFINE_ITERS", "fassign")},
       |${topG("fassign", "fassign", "fedges0")},
       |rebuilt AS MATERIALIZED (SELECT src, dst FROM (
       |  SELECT src, dst FROM fedges0
       |  UNION ALL SELECT dst AS src, src AS dst FROM fedges0) u
       |  GROUP BY 1, 2),
       |gl1 AS (SELECT vec_id, e FROM corpus
       |  WHERE vec_id % (SELECT greatest(1, CAST(ceil(
       |    COUNT(*) / $GRAPH_ENTRY_BUDGET.0) AS BIGINT)) FROM corpus) = 0),
       |${graphSearchSql(GRAPH_BEAM, "ia", "appended")},
       |${graphSearchSql(GRAPH_BEAM, "ir", "rebuilt")},
       |bscored AS (SELECT q_id, vec_id, $cosQC AS cosine FROM q, corpus),
       |exact AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id) AS rn FROM bscored) t
       |  WHERE rn <= $TOP_K)
       |SELECT arm, n_edges, candidates_scored, total_hits,
       |  CAST(total_hits AS DOUBLE) / CAST(exact_rows AS DOUBLE) AS recall
       |FROM (${armSelect("appended", "appended", "ia")}
       |  UNION ALL
       |${armSelect("rebuilt", "rebuilt", "ir")})""".stripMargin
  }

  private lazy val annIvfSql =
    s"""$baseSql,
         |$centsSqlChain,
         |cents AS (SELECT cent_id, ce FROM cents_$REFINE_ITERS),
         |assign AS (SELECT vec_id, e, cent_id FROM (
         |  SELECT corpus.vec_id, corpus.e, cent_id,
         |    row_number() OVER (PARTITION BY corpus.vec_id
         |      ORDER BY ${VectorOps.cosineSql("corpus.e", "ce", 64)} DESC, cent_id) AS arn
         |  FROM corpus, cents) t WHERE arn = 1),
         |probe AS (SELECT q_id, qe, cent_id FROM (
         |  SELECT q_id, qe, cent_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY ${VectorOps.cosineSql("qe", "ce", 64)} DESC, cent_id) AS prn
         |  FROM q, cents) t
         |  WHERE prn <= greatest($PROBE_MIN,
         |    CAST(ceil($PROBE_FRAC * (SELECT COUNT(*) FROM cents)) AS BIGINT))),
         |scored AS (SELECT q_id, vec_id, $cosQC AS cosine
         |  FROM probe JOIN assign USING (cent_id)),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |  ORDER BY cosine DESC, vec_id) AS rn FROM scored)
         |SELECT q_id, vec_id, cosine, CAST(rn AS INT) AS rn
         |FROM ranked WHERE rn <= $TOP_K""".stripMargin

  /** The oracle's trained-PQ-codebook chain — the IDENTICAL Lloyd
    * passes as [[pqTrainedSeq]], unrolled like [[centsSqlChain]]:
    * stride-sampled seeds, fixed-order L2 argmin assignment (ties to
    * the smallest codeword id), decimal-exact recentre. Requires the
    * `corpus` CTE; exports `pss`, `vsub`, and `pqcb` (s, plabel, cw).
    */
  private lazy val pqTrainSqlChain: String = {
    val l2sub = s"""list_reduce(list_transform(range(1, ${PQ_SUB + 1}),
       |          i -> (sub[i] - cw[i]) * (sub[i] - cw[i])), (x, y) -> x + y)""".stripMargin
    val sb = new StringBuilder(
      s"""pss AS (SELECT CAST(unnest(generate_series(0, ${PQ_M - 1})) AS INT) AS s),
         |vsub AS (SELECT vec_id, s, e[s * $PQ_SUB + 1 : s * $PQ_SUB + $PQ_SUB] AS sub
         |  FROM corpus CROSS JOIN pss),
         |pqcb_0 AS (SELECT s, vec_id AS plabel, sub AS cw FROM vsub
         |  WHERE vec_id % (SELECT greatest(1,
         |      CAST(ceil(COUNT(*) / $PQ_K.0) AS BIGINT)) FROM corpus) = 0)""".stripMargin)
    for (i <- 1 to PQ_TRAIN_ITERS) {
      sb.append(s""",
         |pqassign_$i AS (SELECT s, plabel, sub FROM (
         |    SELECT vsub.s AS s, cb.plabel, vsub.sub,
         |      row_number() OVER (PARTITION BY vsub.vec_id, vsub.s
         |        ORDER BY $l2sub, cb.plabel) AS arn
         |    FROM vsub JOIN pqcb_${i - 1} cb ON vsub.s = cb.s) t WHERE arn = 1),
         |pqmeans_$i AS (SELECT s, plabel, dim,
         |    CAST(SUM(CAST(val AS DECIMAL(38,10))) AS DOUBLE)
         |      / CAST(COUNT(*) AS DOUBLE) AS mval
         |  FROM (SELECT s, plabel, generate_subscripts(sub, 1) AS dim,
         |        unnest(sub) AS val FROM pqassign_$i) u
         |  GROUP BY s, plabel, dim),
         |pqcb_$i AS (SELECT s, plabel, array_agg(mval ORDER BY dim) AS cw
         |  FROM pqmeans_$i GROUP BY s, plabel)""".stripMargin)
    }
    sb.append(s""",
       |pqcb AS (SELECT s, plabel, cw FROM pqcb_$PQ_TRAIN_ITERS)""".stripMargin)
    sb.toString
  }

  /** IVFADC oracle chain: the identical refined coarse centroids and
    * TRAINED PQ codebooks, the identical argmin encode (row_number over
    * the fixed-order L2 fold), reconstruction reassembled in subspace
    * order, then the ann_ivf_topk probe/assign shapes scored against
    * the reconstruction.
    */
  /** The IVFADC chain up to the per-candidate ADC scores — shared
    * verbatim between the top-k oracle and the refine-depth curve so
    * the two cannot drift. Exports `adc` (q_id, qe, vec_id, adc) plus
    * everything upstream (corpus, cents, recon, assign, probe).
    */
  private def annIvfadcChainSqlOver(base: String) =
    s"""$base,
       |$centsSqlChain,
       |cents AS (SELECT cent_id, ce FROM cents_$REFINE_ITERS),
       |$pqTrainSqlChain,
       |code AS (SELECT vec_id, s, cw FROM (
       |    SELECT vsub.vec_id, vsub.s, cb.cw, cb.plabel,
       |      row_number() OVER (PARTITION BY vsub.vec_id, vsub.s
       |        ORDER BY list_reduce(list_transform(range(1, ${PQ_SUB + 1}),
       |          i -> (sub[i] - cw[i]) * (sub[i] - cw[i])), (x, y) -> x + y),
       |          cb.plabel) AS crn
       |    FROM vsub JOIN pqcb cb ON vsub.s = cb.s) t
       |  WHERE crn = 1),
       |recon AS (SELECT vec_id, flatten(array_agg(cw ORDER BY s)) AS recon
       |  FROM code GROUP BY vec_id),
       |assign AS (SELECT vec_id, cent_id FROM (
       |  SELECT corpus.vec_id, cent_id,
       |    row_number() OVER (PARTITION BY corpus.vec_id
       |      ORDER BY ${VectorOps.cosineSql("corpus.e", "ce", 64)} DESC, cent_id) AS arn
       |  FROM corpus, cents) t WHERE arn = 1),
       |probe AS (SELECT q_id, qe, cent_id FROM (
       |  SELECT q_id, qe, cent_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY ${VectorOps.cosineSql("qe", "ce", 64)} DESC, cent_id) AS prn
       |  FROM q, cents) t
       |  WHERE prn <= greatest($PROBE_MIN,
       |    CAST(ceil($PROBE_FRAC * (SELECT COUNT(*) FROM cents)) AS BIGINT))),
       |adc AS (SELECT q_id, qe, assign.vec_id AS vec_id,
       |    ${VectorOps.cosineSql("qe", "recon", 64)} AS adc
       |  FROM probe JOIN assign USING (cent_id)
       |  JOIN recon ON assign.vec_id = recon.vec_id)""".stripMargin

  /** The topk oracle mirrors the r17 measured-depth knob: the scored
    * pool, the per-depth exact-hit counts (the refine curve's
    * integers), the chosen depth (smallest with hits·100 ≥ 99·max —
    * integer comparison, no IEEE boundary), then the re-rank at that
    * depth. Parameterizes over the cohort base exactly like the Spark
    * chain routes through clusteredDir.
    */
  private def annIvfadcSqlOver(base: String) = {
    val perDepth = ADC_DEPTHS.map { dp =>
      s"""(SELECT CAST($dp AS INT) AS refine_depth,
         |  (SELECT COUNT(*) FROM kexact e JOIN
         |    (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |        row_number() OVER (PARTITION BY q_id
         |          ORDER BY cosine DESC, vec_id) AS rn
         |      FROM sc WHERE srn <= $dp) t WHERE rn <= $TOP_K) a
         |    ON e.q_id = a.q_id AND e.vec_id = a.vec_id) AS hits)""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""${annIvfadcChainSqlOver(base)},
       |srt AS (SELECT q_id, qe, vec_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY adc DESC, vec_id) AS srn FROM adc),
       |sc AS MATERIALIZED (SELECT q_id, srn, corpus.vec_id AS vec_id,
       |    $cosQC AS cosine
       |  FROM srt JOIN corpus ON srt.vec_id = corpus.vec_id
       |  WHERE srn <= $ADC_SHORTLIST),
       |kbscored AS (SELECT q_id, vec_id, $cosQC AS cosine FROM q, corpus),
       |kexact AS MATERIALIZED (SELECT q_id, vec_id FROM (
       |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id) AS rn FROM kbscored) t
       |  WHERE rn <= $TOP_K),
       |dhits AS MATERIALIZED ($perDepth),
       |chosen AS (SELECT MIN(refine_depth) AS depth FROM dhits
       |  WHERE hits * 100 >= 99 * (SELECT hits FROM dhits
       |    WHERE refine_depth = ${ADC_DEPTHS.last})),
       |ranked AS (SELECT q_id, vec_id, cosine,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id) AS rn
       |  FROM sc WHERE srn <= (SELECT depth FROM chosen))
       |SELECT q_id, vec_id, cosine, CAST(rn AS INT) AS rn
       |FROM ranked WHERE rn <= $TOP_K""".stripMargin
  }

  private lazy val annIvfadcSql = annIvfadcSqlOver(baseSql)

  private def annIvfadcRefineCurveSqlOver(base: String) = {
    val depths = Seq(10, 25, 50, 100, 200)
    val perDepth = depths.map { dp =>
      s"""(SELECT CAST($dp AS INT) AS refine_depth,
         |  (SELECT COUNT(*) FROM exact e JOIN
         |    (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |        row_number() OVER (PARTITION BY q_id
         |          ORDER BY cosine DESC, vec_id) AS rn
         |      FROM sc WHERE srn <= $dp) t WHERE rn <= $TOP_K) a
         |    ON e.q_id = a.q_id AND e.vec_id = a.vec_id) AS total_hits,
         |  (SELECT COUNT(*) FROM exact) AS exact_rows)""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""${annIvfadcChainSqlOver(base)},
       |srt AS (SELECT q_id, qe, vec_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY adc DESC, vec_id) AS srn FROM adc),
       |sc AS (SELECT q_id, srn, corpus.vec_id AS vec_id, $cosQC AS cosine
       |  FROM srt JOIN corpus ON srt.vec_id = corpus.vec_id
       |  WHERE srn <= $ADC_SHORTLIST),
       |bscored AS (SELECT q_id, vec_id, $cosQC AS cosine FROM q, corpus),
       |exact AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id) AS rn FROM bscored) t
       |  WHERE rn <= $TOP_K)
       |SELECT refine_depth, total_hits,
       |  CAST(total_hits AS DOUBLE) / CAST(exact_rows AS DOUBLE) AS recall
       |FROM ($perDepth)""".stripMargin
  }

  private lazy val annIvfadcRefineCurveSql =
    annIvfadcRefineCurveSqlOver(baseSql)

  /** IVFADC recall oracle over a parameterized cohort base — the exact
    * pair of chains the uniform `ann_ivfadc_recall` entry inlines.
    */
  private def ivfadcRecallSqlOver(base: String) =
    s"""WITH exact AS (${annBruteSqlOver(base)}),
       |approx AS (${annIvfadcSqlOver(base)})
       |SELECT e.q_id,
       |  CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*) AS recall
       |FROM exact e LEFT JOIN approx a
       |  ON e.q_id = a.q_id AND e.vec_id = a.vec_id
       |GROUP BY e.q_id""".stripMargin

  /** OPQ-rotation oracle over a parameterized labeled `ev` CTE (the
    * `ann_opq_rotation` body, cohort-routed — the clustered arm passes
    * the labeled anchor-blend).
    */
  private def opqRotationSqlOver(evSql: String) =
    s"""WITH $evSql,
       |rot AS (SELECT vec_id, label,
       |    list_transform(range(0, $DIM), i -> list_reduce(
       |      list_transform(range(0, $DIM), j ->
       |        CASE WHEN bit_count(CAST(i AS BIGINT) & CAST(j AS BIGINT)) % 2 = 0
       |             THEN e[CAST(j AS INT) + 1]
       |             ELSE -e[CAST(j AS INT) + 1] END),
       |      (x, y) -> x + y) / CAST(8 AS DOUBLE)) AS er
       |  FROM ev),
       |ss AS (SELECT CAST(unnest(generate_series(0, ${PQ_M - 1})) AS INT) AS s),
       |m0 AS (SELECT label, dim,
       |    CAST(SUM(CAST(FLOOR(val * 1073741824.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |      / 1073741824.0 / CAST(COUNT(*) AS DOUBLE) AS mval
       |  FROM (SELECT label, generate_subscripts(e, 1) AS dim, unnest(e) AS val
       |        FROM ev) u GROUP BY label, dim),
       |c0 AS (SELECT label, array_agg(mval ORDER BY dim) AS c FROM m0 GROUP BY label),
       |mr AS (SELECT label, dim,
       |    CAST(SUM(CAST(FLOOR(val * 1073741824.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |      / 1073741824.0 / CAST(COUNT(*) AS DOUBLE) AS mval
       |  FROM (SELECT label, generate_subscripts(er, 1) AS dim, unnest(er) AS val
       |        FROM rot) u GROUP BY label, dim),
       |cr AS (SELECT label, array_agg(mval ORDER BY dim) AS c FROM mr GROUP BY label),
       |cb0 AS (SELECT s, label, c[s * $PQ_SUB + 1 : s * $PQ_SUB + $PQ_SUB] AS cw
       |  FROM c0 CROSS JOIN ss),
       |cbr AS (SELECT s, label, c[s * $PQ_SUB + 1 : s * $PQ_SUB + $PQ_SUB] AS cw
       |  FROM cr CROSS JOIN ss),
       |vs0 AS (SELECT vec_id, s, e[s * $PQ_SUB + 1 : s * $PQ_SUB + $PQ_SUB] AS sub
       |  FROM ev CROSS JOIN ss),
       |vsr AS (SELECT vec_id, s, er[s * $PQ_SUB + 1 : s * $PQ_SUB + $PQ_SUB] AS sub
       |  FROM rot CROSS JOIN ss),
       |b0 AS (SELECT vec_id, vs0.s, MIN(list_reduce(
       |      list_transform(range(1, ${PQ_SUB + 1}),
       |        i -> (sub[i] - cw[i]) * (sub[i] - cw[i])), (x, y) -> x + y))
       |      AS dist
       |  FROM vs0 JOIN cb0 ON vs0.s = cb0.s GROUP BY vec_id, vs0.s),
       |br AS (SELECT vec_id, vsr.s, MIN(list_reduce(
       |      list_transform(range(1, ${PQ_SUB + 1}),
       |        i -> (sub[i] - cw[i]) * (sub[i] - cw[i])), (x, y) -> x + y))
       |      AS dist
       |  FROM vsr JOIN cbr ON vsr.s = cbr.s GROUP BY vec_id, vsr.s),
       |a0 AS (SELECT s, COUNT(*) AS n_vectors,
       |    CAST(SUM(CAST(FLOOR(dist * 1073741824.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |      / 1073741824.0 / CAST(COUNT(*) AS DOUBLE) AS mse_pq
       |  FROM b0 GROUP BY s),
       |ar AS (SELECT s,
       |    CAST(SUM(CAST(FLOOR(dist * 1073741824.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |      / 1073741824.0 / CAST(COUNT(*) AS DOUBLE) AS mse_rotated
       |  FROM br GROUP BY s)
       |SELECT a0.s AS subspace, n_vectors, mse_pq, mse_rotated,
       |  mse_pq - mse_rotated AS rotation_gain
       |FROM a0 JOIN ar ON a0.s = ar.s""".stripMargin

  /** Trained-PQ reconstruction-error oracle over a parameterized cohort
    * base (the `ann_pq_trained_error` body, cohort-routed).
    */
  private def pqTrainedErrorSqlOver(base: String) =
    s"""$base,
       |$pqTrainSqlChain,
       |cand AS (SELECT vsub.vec_id, vsub.s,
       |    list_reduce(list_transform(range(1, ${PQ_SUB + 1}),
       |      i -> (sub[i] - cw[i]) * (sub[i] - cw[i])), (x, y) -> x + y)
       |      AS dist
       |  FROM vsub JOIN pqcb cb ON vsub.s = cb.s),
       |best AS (SELECT vec_id, s, MIN(dist) AS dist FROM cand
       |  GROUP BY vec_id, s),
       |agg AS (SELECT s, COUNT(*) AS n_vectors,
       |    CAST(SUM(CAST(FLOOR(dist * 1073741824.0 + 0.5) AS BIGINT))
       |      AS DOUBLE) / 1073741824.0 / CAST(COUNT(*) AS DOUBLE)
       |      AS mse_trained
       |  FROM best GROUP BY s),
       |nc AS (SELECT s, COUNT(*) AS n_codewords FROM pqcb GROUP BY s)
       |SELECT agg.s AS subspace, n_vectors, n_codewords, mse_trained
       |FROM agg JOIN nc ON agg.s = nc.s""".stripMargin

  /** MMR oracle: the shortlist, then [[MMR_K]] unrolled greedy rounds —
    * remaining minus picked, max-sim to the picked vectors, the λ=0.5
    * score, one argmax per query per round.
    */
  private lazy val searchMmrSql = {
    val cosPS = VectorOps.cosineSql("r.e", "ps.pe", DIM)
    val sb = new StringBuilder(
      s"""$baseSql,
         |sc0 AS (SELECT q_id, corpus.vec_id AS vec_id, $cosQC AS rel, corpus.e
         |  FROM q, corpus),
         |short AS MATERIALIZED (SELECT q_id, vec_id, rel, e FROM (
         |  SELECT q_id, vec_id, rel, e, row_number() OVER (PARTITION BY q_id
         |      ORDER BY rel DESC, vec_id) AS srn FROM sc0) t
         |  WHERE srn <= $MMR_SHORTLIST),
         |picked_0 AS (SELECT q_id, CAST(0 AS INT) AS mmr_rank, vec_id, rel,
         |  CAST(0 AS DOUBLE) AS mmr FROM short WHERE 1 = 0)""".stripMargin)
    for (r <- 1 to MMR_K) {
      sb.append(s""",
        |rem_$r AS (SELECT s.* FROM short s
        |  LEFT JOIN picked_${r - 1} p
        |    ON s.q_id = p.q_id AND s.vec_id = p.vec_id
        |  WHERE p.vec_id IS NULL),
        |sim_$r AS (SELECT r.q_id, r.vec_id, MAX($cosPS) AS max_sim
        |  FROM rem_$r r JOIN (SELECT p.q_id, s.e AS pe
        |      FROM picked_${r - 1} p JOIN short s
        |        ON p.q_id = s.q_id AND p.vec_id = s.vec_id) ps
        |    ON r.q_id = ps.q_id GROUP BY 1, 2),
        |cand_$r AS (SELECT r.q_id, r.vec_id, r.rel,
        |    0.5 * r.rel - 0.5 * COALESCE(max_sim, CAST(0 AS DOUBLE)) AS mmr
        |  FROM rem_$r r LEFT JOIN sim_$r USING (q_id, vec_id)),
        |pick_$r AS (SELECT q_id, CAST($r AS INT) AS mmr_rank, vec_id, rel, mmr
        |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        |      ORDER BY mmr DESC, vec_id) AS prn FROM cand_$r) t
        |  WHERE prn = 1),
        |picked_$r AS MATERIALIZED (SELECT * FROM picked_${r - 1}
        |  UNION ALL SELECT * FROM pick_$r)""".stripMargin)
    }
    sb.append(s"""
      |SELECT q_id, mmr_rank, vec_id, rel AS relevance, mmr
      |FROM picked_$MMR_K""".stripMargin)
    sb.toString
  }

  /** SemDeDup oracle chain: the IDENTICAL refined centroids, then a
    * final assignment over ALL vectors (queries included) and the
    * within-cluster pair join — same kernel, same threshold, same
    * keep-earliest drop rule as the Spark side.
    */
  private def semdedupSqlChainOver(base: String) =
    s"""$base,
       |$centsSqlChain,
       |cents AS (SELECT cent_id, ce FROM cents_$REFINE_ITERS),
       |sdranked AS (SELECT ev.vec_id, ev.e, cent_id,
       |    row_number() OVER (PARTITION BY ev.vec_id
       |      ORDER BY ${VectorOps.cosineSql("ev.e", "ce", DIM)} DESC, cent_id) AS arn
       |  FROM ev, cents),
       |sdassign AS (SELECT vec_id, e, cent_id FROM sdranked
       |  WHERE arn <= $SEMDEDUP_PROBES),
       |sdprimary AS (SELECT vec_id, cent_id FROM sdranked WHERE arn = 1),
       |sdpairs AS (SELECT vec_a, vec_b, MIN(cent_id) AS cent_id FROM (
       |  SELECT a.cent_id, a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM sdassign a JOIN sdassign b
       |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
       |  WHERE ${VectorOps.cosineSql("a.e", "b.e", DIM)} >= $SEMDEDUP_T) c
       |  GROUP BY vec_a, vec_b)""".stripMargin

  /** Graph-tier oracle chain: the IDENTICAL blocked candidate set
    * (semdedup multi-probe assignment, corpus-only), per-source
    * top-[[GRAPH_DEGREE]] edges symmetrized, and the stride-sampled
    * coarse entry layer. Exports `gedges` and `gl1` on top of
    * [[semdedupSqlChain]].
    */
  private def graphChainSqlOver(base: String) = {
    val cosAB = VectorOps.cosineSql("a.e", "b.e", DIM)
    s"""${semdedupSqlChainOver(base)},
       |gcand AS (SELECT a.vec_id AS src, b.vec_id AS dst,
       |    MAX($cosAB) AS sim
       |  FROM sdassign a JOIN sdassign b
       |    ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
       |  WHERE a.vec_id >= $N_QUERIES AND b.vec_id >= $N_QUERIES
       |  GROUP BY 1, 2),
       |gedges0 AS (SELECT src, dst, sim FROM (SELECT src, dst, sim,
       |    row_number() OVER (PARTITION BY src
       |      ORDER BY sim DESC, dst) AS ern
       |  FROM gcand) t WHERE ern <= $GRAPH_DEGREE),
       |gsym AS MATERIALIZED (SELECT src, dst, MAX(sim) AS sim FROM (
       |  SELECT src, dst, sim FROM gedges0
       |  UNION ALL SELECT dst AS src, src AS dst, sim FROM gedges0) u
       |  GROUP BY 1, 2),
       |gedges AS MATERIALIZED (SELECT src, dst FROM gsym),
       |gl1 AS (SELECT vec_id, e FROM corpus
       |  WHERE vec_id % (SELECT greatest(1, CAST(ceil(
       |    COUNT(*) / $GRAPH_ENTRY_BUDGET.0) AS BIGINT)) FROM corpus) = 0)""".stripMargin
  }

  // the uniform-cohort instances — byte-identical to the pre-r15 chains
  private lazy val semdedupSqlChain = semdedupSqlChainOver(baseSql)
  private lazy val graphChainSql = graphChainSqlOver(baseSql)

  /** The hub-pruned edge relation for the A/B curve: symmetrized degree
    * capped at [[GRAPH_PRUNE_CAP]] keeping the most-similar links —
    * appended to [[graphChainSql]] only where the prune arm runs.
    */
  private lazy val graphPrunedSql =
    s"""gpruned AS MATERIALIZED (SELECT src, dst FROM (
       |  SELECT src, dst, row_number() OVER (PARTITION BY src
       |    ORDER BY sim DESC, dst) AS prn FROM gsym) t
       |  WHERE prn <= $GRAPH_PRUNE_CAP)""".stripMargin

  /** The unrolled best-first rounds at one beam width, CTE-suffixed by
    * `tag` so several widths coexist in one statement. Exports
    * `gv${hops}_tag` (visited) and `gs{h}_tag` (per-hop scored
    * candidates — the curve's cost ledger), mirroring
    * [[beamWalkRounds]] round for round. `seedSelect` overrides the
    * default gl1 entry scan — the layered arm's second segment seeds
    * from the first segment's visited set.
    */
  private def graphSearchSql(beam: Int, tag: String,
                             edgesCte: String = "gedges",
                             hops: Int = GRAPH_HOPS,
                             seedSelect: Option[String] = None): String = {
    // MATERIALIZED is load-bearing: gv_h / gf_h / gexp_h are each
    // consumed more than once — DuckDB's default CTE inlining would
    // re-expand the whole upstream chain per reference, doubling the
    // plan per round (2^HOPS copies of the Lloyd chain).
    val cosL1 = VectorOps.cosineSql("qe", "gl1.e", DIM)
    val seedBody = seedSelect.getOrElse(
      s"""SELECT q_id, gl1.vec_id AS vec_id,
         |    $cosL1 AS cosine
         |  FROM q, gl1""".stripMargin)
    val sb = new StringBuilder(
      s"gv0_$tag AS MATERIALIZED ($seedBody)")
    for (h <- 1 to hops) {
      // frontier: best `beam` not-yet-expanded visited nodes (WHERE
      // filters before the window computes, so brn ranks the
      // unexpanded set — the same filter-then-rank order as Spark)
      val notExpanded =
        if (h == 1) ""
        else s"""LEFT JOIN gexp${h - 1}_$tag x
           |    ON v.q_id = x.q_id AND v.vec_id = x.vec_id
           |  WHERE x.q_id IS NULL""".stripMargin
      val gexp =
        if (h == 1) s"(SELECT q_id, vec_id FROM gf1_$tag)"
        else s"""(SELECT q_id, vec_id FROM gexp${h - 1}_$tag
           |  UNION ALL SELECT q_id, vec_id FROM gf${h}_$tag)""".stripMargin
      sb.append(s""",
         |gf${h}_$tag AS MATERIALIZED (SELECT q_id, vec_id, cosine FROM (
         |    SELECT v.*, row_number() OVER (PARTITION BY v.q_id
         |      ORDER BY v.cosine DESC, v.vec_id) AS brn
         |  FROM gv${h - 1}_$tag v
         |  $notExpanded) t WHERE brn <= $beam),
         |gexp${h}_$tag AS MATERIALIZED $gexp,
         |gx${h}_$tag AS (SELECT DISTINCT b.q_id, e1.dst AS vec_id
         |  FROM gf${h}_$tag b JOIN $edgesCte e1 ON b.vec_id = e1.src),
         |gs${h}_$tag AS MATERIALIZED (SELECT x.q_id, x.vec_id,
         |    $cosQC AS cosine
         |  FROM gx${h}_$tag x JOIN q USING (q_id) JOIN corpus USING (vec_id)),
         |gv${h}_$tag AS MATERIALIZED (SELECT q_id, vec_id,
         |    MAX(cosine) AS cosine
         |  FROM (SELECT * FROM gv${h - 1}_$tag
         |        UNION ALL SELECT * FROM gs${h}_$tag) u
         |  GROUP BY 1, 2)""".stripMargin)
    }
    sb.toString
  }

  private lazy val annGraphTopkSql =
    s"""$graphChainSql,
       |${graphSearchSql(GRAPH_BEAM, "m")},
       |granked AS (SELECT q_id, vec_id, cosine,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id) AS rn
       |  FROM gv${GRAPH_HOPS}_m)
       |SELECT q_id, vec_id, cosine, CAST(rn AS INT) AS rn
       |FROM granked WHERE rn <= $TOP_K""".stripMargin

  private lazy val annGraphRecallSql =
    s"""$graphChainSql,
       |${graphSearchSql(GRAPH_BEAM, "m")},
       |approx AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id) AS rn
       |  FROM gv${GRAPH_HOPS}_m) t WHERE rn <= $TOP_K),
       |bscored AS (SELECT q_id, vec_id, $cosQC AS cosine FROM q, corpus),
       |exact AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id) AS rn FROM bscored) t
       |  WHERE rn <= $TOP_K)
       |SELECT e.q_id,
       |  CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS DOUBLE) / COUNT(*) AS recall
       |FROM exact e LEFT JOIN approx a
       |  ON e.q_id = a.q_id AND e.vec_id = a.vec_id
       |GROUP BY e.q_id""".stripMargin

  /** The bridge-edge relation for the cross-cell arm ([[
    * graphEdgesBridged]]'s mirror): per-source top-1 cross-primary-cell
    * blocked candidate unioned into the symmetrized base edges —
    * appended to the curve chain only where the bridge arm runs.
    */
  private lazy val graphBridgedSql =
    s"""gbcand AS (SELECT g.src, g.dst, g.sim
       |  FROM gcand g
       |  JOIN sdprimary pa ON pa.vec_id = g.src
       |  JOIN sdprimary pb ON pb.vec_id = g.dst
       |  WHERE pa.cent_id <> pb.cent_id),
       |gbridge0 AS (SELECT src, dst FROM (SELECT src, dst,
       |    row_number() OVER (PARTITION BY src
       |      ORDER BY sim DESC, dst) AS brn
       |  FROM gbcand) t WHERE brn = 1),
       |gbridged AS MATERIALIZED (SELECT src, dst FROM (
       |  SELECT src, dst FROM gsym
       |  UNION ALL SELECT src, dst FROM gbridge0
       |  UNION ALL SELECT dst AS src, src AS dst FROM gbridge0) u
       |  GROUP BY 1, 2)""".stripMargin

  /** Shared curve oracle over either edge relation and either cohort
    * base — the SQL mirror of [[graphCurve]]'s arms. `extraCtes`
    * appends an arm-specific edge-relation chain (the bridge arm).
    */
  private def graphCurveSql(edgesCte: String,
                            base: String = baseSql,
                            extraCtes: String = ""): String = {
    val searches = GRAPH_BEAMS.map(bw => graphSearchSql(bw, s"b$bw", edgesCte))
      .mkString(",\n")
    val perBeam = GRAPH_BEAMS.map { bw =>
      // hop 0 (the coarse-layer scan) is charged too — gv0 IS its ledger
      val scoredSum = (s"(SELECT COUNT(*) FROM gv0_b$bw)" +:
        (1 to GRAPH_HOPS).map(h => s"(SELECT COUNT(*) FROM gs${h}_b$bw)"))
        .mkString(" + ")
      s"""(SELECT CAST($bw AS INT) AS beam_width,
         |  CAST($scoredSum AS BIGINT) AS candidates_scored,
         |  (SELECT COUNT(*) FROM exact e JOIN
         |    (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |        row_number() OVER (PARTITION BY q_id
         |          ORDER BY cosine DESC, vec_id) AS rn
         |      FROM gv${GRAPH_HOPS}_b$bw) t WHERE rn <= $TOP_K) a
         |    ON e.q_id = a.q_id AND e.vec_id = a.vec_id) AS total_hits,
         |  (SELECT COUNT(*) FROM exact) AS exact_rows)""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val pruneCte = if (edgesCte == "gpruned") s"$graphPrunedSql,\n" else ""
    val extra = if (extraCtes.nonEmpty) s"$extraCtes,\n" else ""
    s"""${graphChainSqlOver(base)},
       |$pruneCte$extra$searches,
       |bscored AS (SELECT q_id, vec_id, $cosQC AS cosine FROM q, corpus),
       |exact AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id) AS rn FROM bscored) t
       |  WHERE rn <= $TOP_K)
       |SELECT beam_width, candidates_scored, total_hits,
       |  CAST(total_hits AS DOUBLE) / CAST(exact_rows AS DOUBLE) AS recall
       |FROM ($perBeam)""".stripMargin
  }

  private lazy val annGraphBeamCurveSql = graphCurveSql("gedges")
  private lazy val annGraphPruneCurveSql = graphCurveSql("gpruned")

  /** The layered-walk curve oracle — mirror of [[graphLayeredSearch]]:
    * the √stride middle-member graph, the mid²-stride entry layer, and
    * per beam width one GRAPH_MID_HOPS segment over the middle edges
    * chained into a (GRAPH_HOPS − GRAPH_MID_HOPS) segment over the base
    * edges, the second seeded from the first's visited set.
    */
  private def annGraphLayeredCurveSqlOver(base: String) = {
    val cosAB = VectorOps.cosineSql("a.e", "b.e", DIM)
    val cosL2 = VectorOps.cosineSql("qe", "gl2.e", DIM)
    val m = "(SELECT m FROM gmstr)"
    val baseHops = GRAPH_HOPS - GRAPH_MID_HOPS
    val midChain =
      s"""gmstr AS (SELECT greatest(1, CAST(ceil(sqrt(CAST(
         |    greatest(1, CAST(ceil(COUNT(*) / $GRAPH_ENTRY_BUDGET.0) AS BIGINT))
         |    AS DOUBLE))) AS BIGINT)) AS m FROM corpus),
         |gmcand AS (SELECT a.vec_id AS src, b.vec_id AS dst,
         |    MAX($cosAB) AS sim
         |  FROM sdassign a JOIN sdassign b
         |    ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id >= $N_QUERIES AND b.vec_id >= $N_QUERIES
         |    AND a.vec_id % $m = 0 AND b.vec_id % $m = 0
         |  GROUP BY 1, 2),
         |gmedges0 AS (SELECT src, dst, sim FROM (SELECT src, dst, sim,
         |    row_number() OVER (PARTITION BY src
         |      ORDER BY sim DESC, dst) AS ern
         |  FROM gmcand) t WHERE ern <= $GRAPH_DEGREE),
         |gmedges AS MATERIALIZED (SELECT src, dst FROM (
         |  SELECT src, dst, sim FROM gmedges0
         |  UNION ALL SELECT dst AS src, src AS dst, sim FROM gmedges0) u
         |  GROUP BY 1, 2),
         |gl2 AS (SELECT vec_id, e FROM corpus
         |  WHERE vec_id % ($m * $m) = 0)""".stripMargin
    val searches = GRAPH_BEAMS.map { bw =>
      graphSearchSql(bw, s"l${bw}m", "gmedges", GRAPH_MID_HOPS,
        Some(s"""SELECT q_id, gl2.vec_id AS vec_id,
           |    $cosL2 AS cosine
           |  FROM q, gl2""".stripMargin)) + ",\n" +
        graphSearchSql(bw, s"l${bw}b", "gedges", baseHops,
          Some(s"SELECT q_id, vec_id, cosine FROM gv${GRAPH_MID_HOPS}_l${bw}m"))
    }.mkString(",\n")
    val perBeam = GRAPH_BEAMS.map { bw =>
      // ledger: the entry scan + both segments' per-hop scored sets
      // (segment 2's gv0 is segment 1's visited — already charged)
      val scoredSum = (s"(SELECT COUNT(*) FROM gv0_l${bw}m)" +:
        ((1 to GRAPH_MID_HOPS).map(h => s"(SELECT COUNT(*) FROM gs${h}_l${bw}m)") ++
          (1 to baseHops).map(h => s"(SELECT COUNT(*) FROM gs${h}_l${bw}b)")))
        .mkString(" + ")
      s"""(SELECT CAST($bw AS INT) AS beam_width,
         |  CAST($scoredSum AS BIGINT) AS candidates_scored,
         |  (SELECT COUNT(*) FROM exact e JOIN
         |    (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |        row_number() OVER (PARTITION BY q_id
         |          ORDER BY cosine DESC, vec_id) AS rn
         |      FROM gv${baseHops}_l${bw}b) t WHERE rn <= $TOP_K) a
         |    ON e.q_id = a.q_id AND e.vec_id = a.vec_id) AS total_hits,
         |  (SELECT COUNT(*) FROM exact) AS exact_rows)""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""${graphChainSqlOver(base)},
       |$midChain,
       |$searches,
       |bscored AS (SELECT q_id, vec_id, $cosQC AS cosine FROM q, corpus),
       |exact AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id) AS rn FROM bscored) t
       |  WHERE rn <= $TOP_K)
       |SELECT beam_width, candidates_scored, total_hits,
       |  CAST(total_hits AS DOUBLE) / CAST(exact_rows AS DOUBLE) AS recall
       |FROM ($perBeam)""".stripMargin
  }

  private lazy val annGraphLayeredCurveSql =
    annGraphLayeredCurveSqlOver(baseSql)

  private lazy val annIncrementalGraphSql = annIncrementalGraphSqlOver(baseSql)

  /** The IVF probe-curve oracle, cohort-parameterized. */
  private def ivfProbeCurveSqlOver(base: String): String = {
    val perNp = Seq(1, 2, 4, 8).map { np =>
      s"""(SELECT CAST($np AS INT) AS nprobe,
         |  (SELECT COUNT(*) FROM scored8 WHERE prn <= $np) AS candidates,
         |  (SELECT COUNT(*) FROM exact e JOIN
         |    (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |        row_number() OVER (PARTITION BY q_id
         |          ORDER BY cosine DESC, vec_id) AS rn
         |      FROM scored8 WHERE prn <= $np) t WHERE rn <= $TOP_K) a
         |    ON e.q_id = a.q_id AND e.vec_id = a.vec_id) AS total_hits,
         |  (SELECT COUNT(*) FROM exact) AS exact_rows)""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""$base,
       |$centsSqlChain,
       |cents AS (SELECT cent_id, ce FROM cents_$REFINE_ITERS),
       |assign AS (SELECT vec_id, e, cent_id FROM (
       |  SELECT corpus.vec_id, corpus.e, cent_id,
       |    row_number() OVER (PARTITION BY corpus.vec_id
       |      ORDER BY ${VectorOps.cosineSql("corpus.e", "ce", 64)} DESC, cent_id) AS arn
       |  FROM corpus, cents) t WHERE arn = 1),
       |probe8 AS (SELECT q_id, qe, cent_id, prn FROM (
       |  SELECT q_id, qe, cent_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY ${VectorOps.cosineSql("qe", "ce", 64)} DESC, cent_id) AS prn
       |  FROM q, cents) t WHERE prn <= 8),
       |scored8 AS (SELECT q_id, vec_id, prn, $cosQC AS cosine
       |  FROM probe8 JOIN assign USING (cent_id)),
       |bscored AS (SELECT q_id, vec_id, $cosQC AS cosine FROM q, corpus),
       |exact AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, vec_id) AS rn FROM bscored) t
       |  WHERE rn <= $TOP_K)
       |SELECT nprobe, candidates, total_hits,
       |  CAST(total_hits AS DOUBLE) / CAST(exact_rows AS DOUBLE) AS recall
       |FROM ($perNp)""".stripMargin
  }

  /** The clustering-coefficient oracle, cohort-parameterized. */
  private def graphClusteringSqlOver(base: String) =
    s"""${graphChainSqlOver(base)},
       |und AS MATERIALIZED (SELECT src AS a, dst AS b FROM gedges
       |  WHERE src < dst),
       |tri AS (SELECT COUNT(*) AS n_triangles FROM und e1
       |  JOIN und e2 ON e1.b = e2.a
       |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
       |deg AS (SELECT src, COUNT(*) AS dg FROM gedges GROUP BY 1),
       |dw AS (SELECT COUNT(*) AS n_nodes,
       |    CAST(SUM((dg * (dg - 1)) // 2) AS BIGINT) AS n_wedges
       |  FROM deg),
       |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM und)
       |SELECT n_nodes, n_edges, n_triangles, n_wedges,
       |  CASE WHEN n_wedges = 0 THEN NULL
       |    ELSE 3.0 * CAST(n_triangles AS DOUBLE)
       |      / CAST(n_wedges AS DOUBLE) END AS global_clustering
       |FROM ne, dw, tri""".stripMargin

  /** The blocked-vs-brute recall oracle, cohort-parameterized. */
  private def semdedupRecallSqlOver(base: String) =
    s"""${semdedupSqlChainOver(base)},
       |bt AS (SELECT COUNT(*) AS n_true_pairs FROM ev a JOIN ev b
       |  ON a.vec_id < b.vec_id
       |  WHERE ${VectorOps.cosineSql("a.e", "b.e", DIM)} >= $SEMDEDUP_T),
       |cp AS (SELECT COUNT(*) AS n_captured FROM sdpairs)
       |SELECT n_true_pairs, n_captured,
       |  CASE WHEN n_true_pairs = 0 THEN NULL
       |    ELSE CAST(n_captured AS DOUBLE) / CAST(n_true_pairs AS DOUBLE)
       |  END AS recall
       |FROM bt, cp""".stripMargin

  val oracles: Map[String, String] = Map(
    "ann_incremental" -> annIncrementalSql,
    "ann_incremental_graph" -> annIncrementalGraphSql,
    "ann_clustered_beam_curve" -> graphCurveSql("gedges", clusteredBaseSql),
    "ann_clustered_prune_curve" -> graphCurveSql("gpruned", clusteredBaseSql),
    "ann_clustered_bridge_curve" ->
      graphCurveSql("gbridged", clusteredBaseSql, graphBridgedSql),
    "ann_clustered_incremental_graph" ->
      annIncrementalGraphSqlOver(clusteredBaseSql),
    "ann_clustered_semdedup_recall" ->
      semdedupRecallSqlOver(clusteredBaseSql),
    "search_mmr_rerank" -> searchMmrSql,
    "ann_graph_topk" -> annGraphTopkSql,
    "ann_graph_recall" -> annGraphRecallSql,
    "ann_graph_beam_curve" -> annGraphBeamCurveSql,
    "ann_graph_prune_curve" -> annGraphPruneCurveSql,
    "ann_graph_layered_curve" -> annGraphLayeredCurveSql,
    "ann_clustered_layered_curve" ->
      annGraphLayeredCurveSqlOver(clusteredBaseSql),
    "ann_graph_degree" ->
      s"""$graphChainSql
         |SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_vectors FROM (
         |  SELECT src, COUNT(*) AS degree FROM gedges GROUP BY 1) d
         |GROUP BY 1""".stripMargin,
    "ann_graph_clustering" -> graphClusteringSqlOver(baseSql),
    "ann_clustered_graph_clustering" ->
      graphClusteringSqlOver(clusteredBaseSql),
    "ann_graph_build_cost" ->
      s"""$graphChainSql,
         |cells AS (SELECT cent_id, COUNT(*) AS c FROM sdassign
         |  WHERE vec_id >= $N_QUERIES GROUP BY 1),
         |b AS (SELECT CAST(SUM(c * c) AS BIGINT) AS candidate_pair_bound,
         |    COUNT(*) AS n_cells FROM cells),
         |e AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
         |    CAST(COUNT(DISTINCT src) AS BIGINT) AS n_connected FROM gedges),
         |n AS (SELECT COUNT(*) AS n_corpus FROM corpus)
         |SELECT n_corpus, n_cells, candidate_pair_bound, n_edges,
         |  n_corpus - n_connected AS n_isolated
         |FROM n, b, e""".stripMargin,

    "ann_semdedup" ->
      s"""$semdedupSqlChain,
         |sz AS (SELECT cent_id, COUNT(*) AS n_vectors FROM sdprimary GROUP BY cent_id),
         |pc AS (SELECT cent_id, COUNT(*) AS n_dup_pairs FROM sdpairs GROUP BY cent_id),
         |dc AS (SELECT p.cent_id, COUNT(*) AS n_dropped
         |  FROM (SELECT DISTINCT vec_b FROM sdpairs) dv
         |  JOIN sdprimary p ON p.vec_id = dv.vec_b GROUP BY p.cent_id)
         |SELECT c.cent_id,
         |  COALESCE(n_vectors, 0) AS n_vectors,
         |  COALESCE(n_dup_pairs, 0) AS n_dup_pairs,
         |  COALESCE(n_dropped, 0) AS n_dropped,
         |  COALESCE(n_vectors, 0) - COALESCE(n_dropped, 0) AS n_kept
         |FROM cents c LEFT JOIN sz USING (cent_id)
         |  LEFT JOIN pc USING (cent_id) LEFT JOIN dc USING (cent_id)""".stripMargin,
    "ann_semdedup_recall" -> semdedupRecallSqlOver(baseSql),
    "ann_bucket_balance" ->
      s"""$baseSql,
         |cb AS (SELECT ${VectorOps.signBucketSql("e", LSH_DIMS)} AS bucket FROM corpus),
         |sz AS (SELECT bucket, COUNT(*) AS bucket_size FROM cb GROUP BY bucket)
         |SELECT bucket_size, COUNT(*) AS n_buckets
         |FROM sz GROUP BY bucket_size""".stripMargin,
    "ann_int8_error" ->
      """WITH ev AS (SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |sc AS (SELECT label, e,
        |    CASE WHEN m = 0.0 THEN 1.0 ELSE m END AS scale
        |  FROM (SELECT label, e, list_max(list_transform(e, x -> abs(x))) AS m
        |        FROM ev) t),
        |pd AS (SELECT label, scale, unnest(e) AS val FROM sc),
        |q AS (SELECT label, scale, val,
        |    FLOOR(val * 127.0 / scale + 0.5) AS qv FROM pd),
        |er AS (SELECT label, ABS(val - qv * scale / 127.0) AS aerr FROM q)
        |SELECT label, COUNT(*) AS n_values,
        |  CAST(SUM(CAST(FLOOR(aerr * aerr * 1099511627776.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |    / 1099511627776.0 / CAST(COUNT(*) AS DOUBLE) AS mean_sq_err,
        |  MAX(aerr) AS max_abs_err
        |FROM er GROUP BY label""".stripMargin,
    "ann_centroid_drift" ->
      s"""WITH ev AS (SELECT label, vec_id % 2 = 0 AS is_a,
         |    CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |m AS (SELECT label, is_a, dim,
         |    CAST(SUM(CAST(FLOOR(val * 1073741824.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / 1073741824.0 / CAST(COUNT(*) AS DOUBLE) AS m,
         |    COUNT(*) AS n
         |  FROM (SELECT label, is_a, generate_subscripts(e, 1) AS dim,
         |        unnest(e) AS val FROM ev) u
         |  GROUP BY 1, 2, 3)
         |SELECT label, MAX(a.n) AS n_a, MAX(b.n) AS n_b,
         |  sqrt(CAST(SUM(CAST(FLOOR((a.m - b.m) * (a.m - b.m)
         |      * 1073741824.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / 1073741824.0) AS drift_l2
         |FROM (SELECT * FROM m WHERE is_a) a
         |JOIN (SELECT * FROM m WHERE NOT is_a) b USING (label, dim)
         |GROUP BY label""".stripMargin,
    "ann_label_centroids" ->
      s"""WITH ev AS (SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |m AS (SELECT label, dim,
         |    CAST(SUM(CAST(FLOOR(val * 1073741824.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / 1073741824.0 / CAST(COUNT(*) AS DOUBLE) AS mval
         |  FROM (SELECT label, generate_subscripts(e, 1) AS dim, unnest(e) AS val FROM ev) u
         |  GROUP BY label, dim),
         |cents AS (SELECT label, array_agg(mval ORDER BY dim) AS ce FROM m GROUP BY label),
         |sc AS (SELECT ev.label, ${VectorOps.cosineSql("e", "ce", DIM)} AS c
         |  FROM ev JOIN cents USING (label))
         |SELECT label, COUNT(*) AS n_vectors,
         |  CAST(SUM(CAST(FLOOR(c * 1073741824.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / 1073741824.0 / CAST(COUNT(*) AS DOUBLE) AS mean_cos,
         |  MIN(c) AS min_cos
         |FROM sc GROUP BY label""".stripMargin,
    "ann_pq_error" ->
      s"""WITH ev AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings),
         |m AS (SELECT label, dim,
         |    CAST(SUM(CAST(FLOOR(val * 1073741824.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / 1073741824.0 / CAST(COUNT(*) AS DOUBLE) AS mval
         |  FROM (SELECT label, generate_subscripts(e, 1) AS dim, unnest(e) AS val
         |        FROM ev) u
         |  GROUP BY label, dim),
         |cents AS (SELECT label, array_agg(mval ORDER BY dim) AS ce
         |  FROM m GROUP BY label),
         |ss AS (SELECT CAST(unnest(generate_series(0, ${PQ_M - 1})) AS INT) AS s),
         |cb AS (SELECT s, label, ce[s * $PQ_SUB + 1 : s * $PQ_SUB + $PQ_SUB] AS cw
         |  FROM cents CROSS JOIN ss),
         |vs AS (SELECT vec_id, s, e[s * $PQ_SUB + 1 : s * $PQ_SUB + $PQ_SUB] AS sub
         |  FROM ev CROSS JOIN ss),
         |cand AS (SELECT vec_id, vs.s, cb.label,
         |    list_reduce(list_transform(range(1, ${PQ_SUB + 1}),
         |      i -> (sub[i] - cw[i]) * (sub[i] - cw[i])), (x, y) -> x + y)
         |      AS dist
         |  FROM vs JOIN cb ON vs.s = cb.s),
         |best AS (SELECT vec_id, s, MIN(dist) AS dist FROM cand
         |  GROUP BY vec_id, s),
         |agg AS (SELECT s, COUNT(*) AS n_vectors,
         |    CAST(SUM(CAST(FLOOR(dist * 1073741824.0 + 0.5) AS BIGINT))
         |      AS DOUBLE) / 1073741824.0 / CAST(COUNT(*) AS DOUBLE) AS mse_pq
         |  FROM best GROUP BY s),
         |nc AS (SELECT s, COUNT(*) AS n_codewords FROM cb GROUP BY s)
         |SELECT agg.s AS subspace, n_vectors, n_codewords, mse_pq
         |FROM agg JOIN nc ON agg.s = nc.s""".stripMargin,
    "ann_pq_trained_error" -> pqTrainedErrorSqlOver(baseSql),
    "ann_clustered_pq_trained_error" ->
      pqTrainedErrorSqlOver(clusteredBaseSql),
    // Walsh–Hadamard rotation mirrored term-for-term: list_reduce is
    // the same left-associative fold as Spark's aggregate (the extra
    // 0.0 seed on the Spark side is IEEE-neutral), bit_count(i & j)
    // parity selects the same ±1 entries, and both sides re-derive
    // codebooks from rotated values through the same 2^30 grid.
    "ann_opq_rotation" -> opqRotationSqlOver(
      s"""ev AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings)""".stripMargin),
    // the labeled mirror of clusteredBaseSql's blend (labels kept for
    // the per-label codebooks)
    "ann_clustered_opq_rotation" -> opqRotationSqlOver(
      s"""ev0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings),
         |anch AS (SELECT label, e AS ae FROM (
         |  SELECT label, e, row_number() OVER (PARTITION BY label
         |    ORDER BY vec_id) AS arn FROM ev0) t WHERE arn = 1),
         |ev AS MATERIALIZED (SELECT vec_id, label,
         |    list_transform(range(1, ${DIM + 1}), i -> ae[i] + e[i]) AS e
         |  FROM ev0 JOIN anch USING (label))""".stripMargin),
    "ann_knn_classify" ->
      s"""WITH topk AS ($annBruteSql),
         |votes AS (SELECT q_id, label, COUNT(*) AS n_votes
         |  FROM topk JOIN embeddings USING (vec_id) GROUP BY 1, 2),
         |pred AS (SELECT q_id, label AS predicted_label, n_votes FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY n_votes DESC, label) AS vrn FROM votes) t
         |  WHERE vrn = 1)
         |SELECT q_id, predicted_label, tl.label AS true_label, n_votes
         |FROM pred JOIN embeddings tl ON pred.q_id = tl.vec_id""".stripMargin,
    "ann_cosine_topk" -> annBruteSql,
    // truncated-dim scoring over materialized qe[1:D]/e[1:D] slices;
    // same fixed-order fold, same tie-break, same left-join recall
    // shape as ann_ivf_recall
    "ann_dim_truncation" -> {
      def tier(dm: Int) =
        s"""q$dm AS (SELECT q_id, qe[1:$dm] AS qt FROM q),
           |c$dm AS (SELECT vec_id, e[1:$dm] AS ct FROM corpus),
           |t$dm AS (SELECT q_id, vec_id FROM (
           |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
           |      ORDER BY ${VectorOps.cosineSql("qt", "ct", dm)} DESC, vec_id)
           |      AS rn
           |    FROM q$dm, c$dm) r WHERE rn <= $TOP_K),
           |r$dm AS (SELECT CAST($dm AS BIGINT) AS dims, e.q_id,
           |    CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
           |      AS DOUBLE) / COUNT(*) AS recall
           |  FROM exact e LEFT JOIN t$dm a
           |    ON e.q_id = a.q_id AND e.vec_id = a.vec_id
           |  GROUP BY e.q_id)""".stripMargin
      s"""WITH exact0 AS ($annBruteSql),
         |exact AS (SELECT q_id, vec_id FROM exact0),
         |${baseSql.stripPrefix("WITH ")},
         |${tier(16)},
         |${tier(32)},
         |${tier(48)}
         |SELECT * FROM r16 UNION ALL SELECT * FROM r32
         |UNION ALL SELECT * FROM r48""".stripMargin
    },
    "ann_hard_negatives" ->
      s"""WITH ev AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings),
         |q AS (SELECT vec_id AS q_id, label AS q_label, e AS qe
         |  FROM ev WHERE vec_id < $N_QUERIES),
         |corpus AS (SELECT vec_id, label, e FROM ev WHERE vec_id >= $N_QUERIES),
         |scored AS (SELECT q_id, q_label, vec_id, label, $cosQC AS cosine
         |  FROM q, corpus WHERE label <> q_label),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |  ORDER BY cosine DESC, vec_id) AS rn FROM scored)
         |SELECT q_id, q_label, vec_id, label, cosine, CAST(rn AS INT) AS rn
         |FROM ranked WHERE rn <= $TOP_K""".stripMargin,
    "ann_ivf_topk" -> annIvfSql,
    "ann_ivf_probe_curve" -> ivfProbeCurveSqlOver(baseSql),
    "ann_clustered_ivf_probe_curve" -> ivfProbeCurveSqlOver(clusteredBaseSql),
    // identical cosine doubles ⇒ identical FLOOR banding
    "ann_similarity_histogram" ->
      s"""$baseSql
         |SELECT CAST(FLOOR(($cosQC) * 10) AS INT) AS band,
         |  COUNT(*) AS n_pairs, COUNT(DISTINCT vec_id) AS n_vectors
         |FROM q, corpus GROUP BY 1""".stripMargin,
    "ann_ivf_recall" ->
      s"""WITH exact AS ($annBruteSql),
         |approx AS ($annIvfSql)
         |SELECT e.q_id,
         |  CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*) AS recall
         |FROM exact e LEFT JOIN approx a
         |  ON e.q_id = a.q_id AND e.vec_id = a.vec_id
         |GROUP BY e.q_id""".stripMargin,
    "ann_ivfadc_topk" -> annIvfadcSql,
    "ann_clustered_ivfadc_topk" -> annIvfadcSqlOver(clusteredBaseSql),
    "ann_ivfadc_refine_curve" -> annIvfadcRefineCurveSql,
    "ann_clustered_ivfadc_refine_curve" ->
      annIvfadcRefineCurveSqlOver(clusteredBaseSql),
    "ann_ivfadc_recall" -> ivfadcRecallSqlOver(baseSql),
    "ann_clustered_ivfadc_recall" -> ivfadcRecallSqlOver(clusteredBaseSql),
    "ann_lsh_bucket" ->
      s"""$baseSql,
         |cb AS (SELECT vec_id, e, ${VectorOps.signBucketSql("e", LSH_DIMS)} AS bucket FROM corpus),
         |qb AS (SELECT q_id, qe, ${VectorOps.signBucketSql("qe", LSH_DIMS)} AS bucket FROM q),
         |scored AS (SELECT q_id, vec_id, $cosQC AS cosine
         |  FROM qb JOIN cb USING (bucket)),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |  ORDER BY cosine DESC, vec_id) AS rn FROM scored)
         |SELECT q_id, vec_id, cosine, CAST(rn AS INT) AS rn
         |FROM ranked WHERE rn <= $TOP_K""".stripMargin,
    // generate_subscripts is 1-based — shift to Spark's 0-based
    // posexplode dims. Same grid constants (2^30 means, 2^40 squares)
    // and the same left-associative division order as the Spark side.
    "ann_dim_stats" ->
      """WITH ev AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |u AS (SELECT CAST(generate_subscripts(e, 1) - 1 AS BIGINT) AS dim,
        |        unnest(e) AS val FROM ev),
        |a AS (SELECT dim, COUNT(*) AS n_values,
        |    CAST(SUM(CAST(FLOOR(val * 1073741824.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / 1073741824.0 / CAST(COUNT(*) AS DOUBLE) AS mean_val,
        |    MIN(val) AS min_val, MAX(val) AS max_val,
        |    CAST(SUM(CAST(FLOOR(val * val * 1099511627776.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / 1099511627776.0 / CAST(COUNT(*) AS DOUBLE) AS mean_sq
        |  FROM u GROUP BY dim)
        |SELECT dim, n_values, mean_val, min_val, max_val,
        |  mean_sq - mean_val * mean_val AS var_val
        |FROM a""".stripMargin,
    // Upper-triangle pair expansion via nested unnests (1-based
    // subscripts shifted to Spark's 0-based dims); identical grid
    // constants and division order as the Spark side.
    "ann_covariance" -> covarianceSql,
    // Shard-and-merge is a pure re-association of the SAME integer sums
    // — the oracle is the flat formulation, byte-identical output.
    "ann_covariance_sharded" -> covarianceSql,
    // The identical power iteration over the identical covariance:
    // every fold is list_reduce over an ORDER BY-ed list — the seedless
    // ascending-index reduceLeft the Spark side mirrors.
    "ann_top_component" -> {
      def iter(k: Int): String =
        s"""w$k AS (SELECT cm.i AS dim,
           |    list_reduce(list(cm.cov * v${k - 1}.v ORDER BY cm.j),
           |      (a, b) -> a + b) AS w
           |  FROM cm JOIN v${k - 1} ON cm.j = v${k - 1}.dim GROUP BY cm.i),
           |n$k AS (SELECT sqrt(list_reduce(list(w * w ORDER BY dim),
           |    (a, b) -> a + b)) AS nrm FROM w$k),
           |v$k AS (SELECT dim, w / nrm AS v FROM w$k, n$k)""".stripMargin
      s"""WITH cov0 AS ($covarianceSql),
         |cm AS (SELECT dim_i AS i, dim_j AS j, cov FROM cov0
         |  UNION ALL
         |  SELECT dim_j, dim_i, cov FROM cov0 WHERE dim_i <> dim_j),
         |v0 AS (SELECT i AS dim, 1.0 AS v
         |  FROM (SELECT DISTINCT i FROM cm) t),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)},
         |wl AS (SELECT cm.i AS dim,
         |    list_reduce(list(cm.cov * v3.v ORDER BY cm.j),
         |      (a, b) -> a + b) AS w
         |  FROM cm JOIN v3 ON cm.j = v3.dim GROUP BY cm.i),
         |lam AS (SELECT list_reduce(list(v3.v * wl.w ORDER BY v3.dim),
         |    (a, b) -> a + b) AS eigenvalue
         |  FROM v3 JOIN wl ON v3.dim = wl.dim)
         |SELECT v3.dim, v3.v AS loading, lam.eigenvalue
         |FROM v3, lam ORDER BY dim""".stripMargin
    },
    // Same chain + the ascending-dim diagonal fold for the trace and
    // the |loading|-argmax (ties to the lowest dim) for top_dim.
    "ann_anisotropy_ratio" -> {
      def iter(k: Int): String =
        s"""w$k AS (SELECT cm.i AS dim,
           |    list_reduce(list(cm.cov * v${k - 1}.v ORDER BY cm.j),
           |      (a, b) -> a + b) AS w
           |  FROM cm JOIN v${k - 1} ON cm.j = v${k - 1}.dim GROUP BY cm.i),
           |n$k AS (SELECT sqrt(list_reduce(list(w * w ORDER BY dim),
           |    (a, b) -> a + b)) AS nrm FROM w$k),
           |v$k AS (SELECT dim, w / nrm AS v FROM w$k, n$k)""".stripMargin
      s"""WITH cov0 AS ($covarianceSql),
         |cm AS (SELECT dim_i AS i, dim_j AS j, cov FROM cov0
         |  UNION ALL
         |  SELECT dim_j, dim_i, cov FROM cov0 WHERE dim_i <> dim_j),
         |v0 AS (SELECT i AS dim, 1.0 AS v
         |  FROM (SELECT DISTINCT i FROM cm) t),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)},
         |wl AS (SELECT cm.i AS dim,
         |    list_reduce(list(cm.cov * v3.v ORDER BY cm.j),
         |      (a, b) -> a + b) AS w
         |  FROM cm JOIN v3 ON cm.j = v3.dim GROUP BY cm.i),
         |lam AS (SELECT list_reduce(list(v3.v * wl.w ORDER BY v3.dim),
         |    (a, b) -> a + b) AS eigenvalue
         |  FROM v3 JOIN wl ON v3.dim = wl.dim),
         |tr AS (SELECT list_reduce(list(cov ORDER BY dim_i),
         |    (a, b) -> a + b) AS trace FROM cov0 WHERE dim_i = dim_j),
         |td AS (SELECT CAST(dim AS BIGINT) AS top_dim FROM v3
         |  ORDER BY abs(v) DESC, dim LIMIT 1)
         |SELECT lam.eigenvalue, tr.trace,
         |  lam.eigenvalue / tr.trace AS anisotropy_ratio, td.top_dim
         |FROM lam, tr, td""".stripMargin
    },
    // Borda fusion: ranks (not raw scores) cross the modality boundary,
    // so only the ORDER of each shortlist must agree between engines —
    // the keyword score is an exact BIGINT and the cosine is the
    // family's bitwise-mirrored expression.
    "search_hybrid_fusion" ->
      s"""$baseSql,
         |kw_tf AS (SELECT doc_id, term, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM documents) t
         |  WHERE term IN (${FUSION_TOKS.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY 1, 2),
         |kw_df AS (SELECT term, COUNT(*) AS df FROM kw_tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |kw_top AS (SELECT doc_id,
         |    CAST(SUM(tf * (n_docs // df)) AS BIGINT) AS kw_score
         |  FROM kw_tf JOIN kw_df USING (term), n GROUP BY doc_id
         |  ORDER BY kw_score DESC, doc_id LIMIT $FUSION_K),
         |kwr AS (SELECT doc_id, row_number() OVER
         |    (ORDER BY kw_score DESC, doc_id) AS kw_rank FROM kw_top),
         |vec_top AS (SELECT vec_id, $cosQC AS cosine FROM corpus, q
         |  WHERE q_id = 0 ORDER BY cosine DESC, vec_id LIMIT $FUSION_K),
         |vecr AS (SELECT vec_id AS doc_id, row_number() OVER
         |    (ORDER BY cosine DESC, vec_id) AS vec_rank FROM vec_top)
         |SELECT doc_id, CAST(kw_rank AS INT) AS kw_rank,
         |  CAST(vec_rank AS INT) AS vec_rank,
         |  CAST(COALESCE(${FUSION_K + 1} - kw_rank, 0)
         |    + COALESCE(${FUSION_K + 1} - vec_rank, 0) AS BIGINT) AS borda
         |FROM kwr FULL OUTER JOIN vecr USING (doc_id)
         |ORDER BY borda DESC, doc_id LIMIT 20""".stripMargin,
    // Same band construction; cosines on the same 2^40 grid, so the
    // means are integer sums + one mirrored double division.
    "ann_text_alignment" ->
      s"""WITH ev AS (SELECT vec_id,
         |    CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |fp AS (SELECT doc_id, md5(text) AS fp,
         |    md5(array_to_string(list_slice(string_split(text, ' '), 1, 8),
         |      ' ')) AS pfp
         |  FROM documents),
         |dup AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
         |    'exact_dup' AS band
         |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id),
         |pdup AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
         |    'prefix8_dup' AS band
         |  FROM fp a JOIN fp b ON a.pfp = b.pfp AND a.doc_id < b.doc_id),
         |adj AS (SELECT doc_id AS ida, doc_id + 1 AS idb,
         |    'adjacent' AS band FROM fp),
         |pairs AS (SELECT * FROM dup UNION ALL SELECT * FROM pdup
         |  UNION ALL SELECT * FROM adj),
         |wc AS (SELECT band,
         |    CAST(FLOOR(${VectorOps.cosineSql("qe", "e", 64)}
         |      * 1099511627776.0 + 0.5) AS BIGINT) AS g
         |  FROM (SELECT p.band, ea.e AS qe, eb.e AS e FROM pairs p
         |    JOIN ev ea ON p.ida = ea.vec_id
         |    JOIN ev eb ON p.idb = eb.vec_id) j)
         |SELECT band, COUNT(*) AS n_pairs,
         |  CAST(SUM(g) AS DOUBLE) /
         |    (CAST(COUNT(*) AS DOUBLE) * 1099511627776.0) AS mean_cosine
         |FROM wc GROUP BY band ORDER BY band""".stripMargin
  )

  private lazy val covarianceSql =
      """WITH ev AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |ui AS (SELECT e, generate_subscripts(e, 1) AS ip FROM ev),
        |up AS (SELECT e, ip, unnest(generate_series(ip, len(e))) AS jp FROM ui),
        |p AS (SELECT CAST(ip - 1 AS BIGINT) AS dim_i,
        |        CAST(jp - 1 AS BIGINT) AS dim_j,
        |        e[ip] AS vi, e[jp] AS vj FROM up),
        |a AS (SELECT dim_i, dim_j, COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(FLOOR(vi * 1073741824.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / 1073741824.0 / CAST(COUNT(*) AS DOUBLE) AS mi,
        |    CAST(SUM(CAST(FLOOR(vj * 1073741824.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / 1073741824.0 / CAST(COUNT(*) AS DOUBLE) AS mj,
        |    CAST(SUM(CAST(FLOOR(vi * vj * 1099511627776.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / 1099511627776.0 / CAST(COUNT(*) AS DOUBLE) AS mp
        |  FROM p GROUP BY 1, 2)
        |SELECT dim_i, dim_j, n_rows, mp - mi * mj AS cov FROM a""".stripMargin
}
