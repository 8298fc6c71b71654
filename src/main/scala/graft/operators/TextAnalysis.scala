package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Text-analysis operators over `documents`: token counting, quality
  * scoring, heuristic language ID, fingerprinting. All pure per-row
  * projections (plus one small groupBy for the lang-id confusion
  * summary) — no shuffle of document payloads, so the ops scan-scale
  * linearly at 100 TB.
  *
  * Ratios divide exact ints as doubles in a fixed expression order, so
  * both engines produce identical IEEE results.
  */
object TextAnalysis {

  private def toks: Column = split(col("text"), " ")

  private val STOPWORDS = Seq("a", "the", "of", "and")
  private val TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  private val PACK_CTX = 512  // tokens per packed training window
  private val PACK_SHARDS = 8 // independent packing shards
  private val CHUNK_W = 64    // tokens per training chunk
  private val CHUNK_STRIDE = 48 // chunk stride (W - overlap)
  private val PMI_MIN_PAIR = 5 // collocation floor: drop hapax pairs
  private val BPE_ROUNDS = 6   // unrolled tokenizer-training merge rounds
  // repetition-screen thresholds (the Gopher-family operating point,
  // token-level): most-frequent-bigram occupancy and duplicate-trigram
  // fraction — shared with the oracle so one definition flags both sides
  private val REP_TOP_BIGRAM_T = 0.18
  private val REP_DUP_TRIGRAM_T = 0.30
  private val TFIDF_DF_CAP = 50 // max df for a cosine-join term (skew guard)
  private val VOCAB_COVER_TOP = 10 // top-V vocab for the coverage screen
  // keyword-search query: one rare discriminating token + two common
  // ones, so the integer idf actually ranks (all three occur at every SF)
  private val SEARCH_TOKS = Seq("dup", "spark", "table")
  private val SEARCH_PHRASE = "table scan"

  // char-bigram profiles per language (top bigrams of each language's
  // typical text; literal so the oracle is the identical algorithm)
  private val NGRAM_PROFILES: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("th", "he", "in", "er", "an"),
    "de" -> Seq("en", "ch", "de", "ei", "te"),
    "fr" -> Seq("es", "le", "de", "on", "nt"),
    "es" -> Seq("de", "en", "el", "la", "os"))

  // language marker tokens (disjoint sets; priority order breaks ties)
  private val MARKERS: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("der", "das", "und"),
    "fr" -> Seq("le", "les", "et"),
    "es" -> Seq("el", "los", "que"))

  /** The text family's shared base relation: the documents scan, spread
    * across cores when the scan is under-parallel ([[Tables.spread]]),
    * shared through CachePool.shared and CachePool-persisted (r18).
    * ~60 text_* queries each re-scanned and re-exchanged this relation
    * per session; one materialization now serves the whole family
    * window (guide §1.2 — reuse before per-task tuning), and the
    * per-query repartition Exchange moves into the one cached build.
    */
  private[operators] def docsPar(s: SparkSession, d: String): DataFrame =
    graft.CachePool.shared(s, d, "text_docs_par")(
      graft.CachePool.persist(Tables.spread(Tables.documents(s, d), col("doc_id"))))

  /** Iterated BPE merge table (r13 verdict #4): `text_bpe_pairs` ranks
    * merge candidates ONCE; a tokenizer trainer needs the ITERATED
    * table — after each merge the adjacent-pair counts change, so round
    * r's winner is only knowable on the round-(r−1) REWRITTEN streams.
    * [[BPE_ROUNDS]] rounds unrolled (the graph_pagerank convention):
    * per round, (1) count adjacent pairs on the long (doc_id, pos, tok)
    * relation — one lead() per doc partition + a map-combinable hash
    * agg, (2) pick the top pair under the total tie order
    * (n DESC, w1, w2) — a 1-row TakeOrdered collect, the centroidSeq
    * planner-sized-value convention, (3) rewrite greedy-left-to-right
    * non-overlapping: a match at position p consumes p and p+1, and
    * runs of CONSECUTIVE matches (only possible when w1 = w2, e.g.
    * "a a a a") keep every other match from the run head — expressed
    * engine-portably as gaps-and-islands parity (island = pos − rank;
    * keep odd in-island ranks) instead of a sequential fold, (4)
    * re-rank positions dense. Every round's stream is lazily
    * localCheckpoint'ed (it appears twice in round r+1's tree — the
    * plan-doubling gotcha) and CachePool-persisted (pair count +
    * rewrite + token census all read it). Driver state is O(rounds)
    * rows — the merge table itself, shared per corpus. At 100 TB each
    * round is one scan + one bounded rewrite of an already-tokenized
    * corpus: tokenizer-training cost is O(rounds) passes, the number
    * `text_vocab_coverage`'s vocab-sizing story prices against
    * coverage.
    */
  /** The tokenized long relation a BPE pass starts from. */
  private def bpeStream(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
      .localCheckpoint(eager = false)
      .transform(graft.CachePool.persist)

  /** One BPE rewrite round over a `paired` relation (stream + lead):
    * greedy-left-to-right non-overlapping merge of every (w1, w2)
    * adjacency via the gaps-and-islands parity, then dense re-rank.
    * Shared by the trainer ([[bpeMerges]], which PICKS the pair first)
    * and the held-out APPLY pass ([[bpeHeldout]], whose pair is given
    * by the trained table) — one rewrite definition, so the two paths
    * cannot drift.
    */
  /** One rewrite round's outputs: the re-ranked stream TAGGED with
    * which rows are this round's merged tokens (`is_merged`), plus the
    * kept OLD positions — exactly what the pair-delta trainer needs to
    * update counts sparsely (only adjacencies touching a merged island
    * change) without a second derivation of the match set.
    */
  private case class BpeRound(stream: DataFrame, kept: DataFrame)

  private def bpeRewriteTagged(paired: DataFrame, w1: String, w2: String)
      : BpeRound = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val matches = paired
      .filter(col("tok") === lit(w1) && col("nxt") === lit(w2))
      .select("doc_id", "pos")
    val isl = matches
      .withColumn("isl", col("pos") - row_number().over(wDoc))
    val kept = isl
      .withColumn("krn", row_number().over(
        Window.partitionBy("doc_id", "isl").orderBy("pos")))
      .filter(col("krn") % 2 === 1)
      .select("doc_id", "pos")
      .localCheckpoint(eager = false) // replace-join + consumed anti + deltas
    val consumed = kept.select(col("doc_id"), (col("pos") + 1).as("pos"))
    val stream = paired.select("doc_id", "pos", "tok")
    val untouched = stream
      .join(kept.unionByName(consumed), Seq("doc_id", "pos"), "left_anti")
    val rewritten = untouched.withColumn("is_merged", lit(false))
      .unionByName(kept.withColumn("tok", lit(s"$w1 $w2"))
        .withColumn("is_merged", lit(true)))
      .select(col("doc_id"), col("pos").as("opos"), col("tok"),
        col("is_merged"))
      .withColumn("pos",
        (row_number().over(Window.partitionBy("doc_id").orderBy("opos"))
          - lit(1)).cast("int"))
      .select("doc_id", "pos", "tok", "is_merged")
      .localCheckpoint(eager = false)
      .transform(graft.CachePool.persist)
    BpeRound(rewritten, kept)
  }

  private def bpeRewrite(paired: DataFrame, w1: String, w2: String)
      : DataFrame =
    bpeRewriteTagged(paired, w1, w2).stream.select("doc_id", "pos", "tok")

  /** [[BPE_ROUNDS]] trainer rounds over the given doc relation — the
    * full-RECOUNT reference: every round re-aggregates all adjacent
    * pairs. Since r15 the shipped path is [[bpeTrainDelta]] (identical
    * merge table, sparse count updates); this implementation stays as
    * the semantic reference the equality spec replays both corpora and
    * adversarial streams through. private[graft] so the property spec
    * can drive it with adversarial synthetic streams (single-token
    * runs — the overlapping-match case the parity rewrite exists for)
    * beyond the corpus replay.
    */
  private[graft] def bpeTrain(s: SparkSession, docs: DataFrame)
      : Seq[(Int, String, String, Long, Long, Double)] = {
    import org.apache.spark.sql.expressions.Window
    var stream = bpeStream(docs)
    val n0 = stream.count()
    val out = Seq.newBuilder[(Int, String, String, Long, Long, Double)]
    var r = 1
    var exhausted = false // empty corpus / no adjacent pairs left
    while (r <= BPE_ROUNDS && !exhausted) {
      val wDoc = Window.partitionBy("doc_id").orderBy("pos")
      val paired = stream
        .withColumn("nxt", lead(col("tok"), 1).over(wDoc))
      val top = paired.filter(col("nxt").isNotNull)
        .groupBy("tok", "nxt").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"), col("nxt")).limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (w1, w2, nPair) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        stream = bpeRewrite(paired, w1, w2)
        val nAfter = stream.count()
        out += ((r, w1, w2, nPair, nAfter, nAfter.toDouble / n0.toDouble))
      }
      r += 1
    }
    out.result()
  }

  /** Pair-DELTA trainer (r14 verdict #3) — the production shape: round
    * 1 counts every adjacency once; rounds 2..N update the standing
    * (tok, nxt) count relation by DELTA. The only adjacencies that
    * change when (w1, w2) merges are those touching a merged island —
    * removed: old pairs whose left position sits in
    * {kept ∪ consumed} ∪ ({kept ∪ consumed} − 1); added: new pairs
    * where either side IS this round's merged token (the is_merged tag
    * [[bpeRewriteTagged]] carries for exactly this purpose — content
    * tests can't identify them, since two different merge paths can
    * serialize to the same string). Equality with the full recount is
    * exact, not approximate: untouched old adjacencies biject onto
    * new non-merged adjacencies (no token is ever deleted — a match
    * leaves its merged survivor in place), so the updated multiset of
    * counts is identical, and the winner under (n DESC, w1, w2) is
    * identical — TextPairsSpec asserts bit-equality against
    * [[bpeTrain]] on the corpus replay and on adversarial single-token
    * runs. Scale shape per round: the rewrite's window passes are
    * unchanged (the next round needs the lead() relation anyway), but
    * the full-corpus pair AGGREGATION is gone — the removed/added
    * aggregations touch O(merged islands) rows, and the standing
    * counts relation is updated through a co-partitioned full-outer
    * join (counts is already hash-partitioned on the join keys from
    * its last shuffle, so only the O(islands) delta side moves).
    * Measured at sf0.1 (6 rounds, ~271 k-row token stream, winners at
    * ~350 occurrences): the recount trainer feeds all ~271 k adjacency
    * rows into the pair aggregation every round; the delta trainer does
    * that once, then five delta sets of ~1.5-2 k rows each (≤ 5·kept
    * adjacencies per round — ~0.7% of a full pass). The claim is
    * MEASURED OUTPUT, not prose (r15 verdict #6): pass `deltaMetrics`
    * and each round appends (round, delta_rows, full_rows) — the rows
    * fed into the removed+added aggregations vs the adjacency rows a
    * recount would aggregate — which TextPairsSpec asserts per round
    * at two SFs. The counts run only when requested, so production
    * paths pay nothing.
    */
  private[graft] def bpeTrainDelta(s: SparkSession, docs: DataFrame,
      deltaMetrics: Option[scala.collection.mutable.Buffer[(Int, Long, Long)]] = None)
      : Seq[(Int, String, String, Long, Long, Double)] = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    var stream = bpeStream(docs)
    val n0 = stream.count()
    var paired = stream.withColumn("nxt", lead(col("tok"), 1).over(wDoc))
      .localCheckpoint(eager = false) // winner pick + rewrite + removed set
      .transform(graft.CachePool.persist)
    var counts = paired.filter(col("nxt").isNotNull)
      .groupBy("tok", "nxt").agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false)
      .transform(graft.CachePool.persist)
    val out = Seq.newBuilder[(Int, String, String, Long, Long, Double)]
    var r = 1
    var exhausted = false
    while (r <= BPE_ROUNDS && !exhausted) {
      val top = counts.orderBy(col("n").desc, col("tok"), col("nxt"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (w1, w2, nPair) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        val rw = bpeRewriteTagged(paired, w1, w2)
        // removed: every OLD adjacency whose either endpoint is a kept
        // or consumed position — adjacency (p, p+1) is keyed by p, so
        // the affected-p set is {t, t−1 : t ∈ kept ∪ consumed}
        val touched = rw.kept
          .unionByName(rw.kept.select(col("doc_id"), (col("pos") + 1).as("pos")))
        val affectedP = touched
          .unionByName(touched.select(col("doc_id"), (col("pos") - 1).as("pos")))
          .distinct()
        val removed = paired.filter(col("nxt").isNotNull)
          .join(affectedP, Seq("doc_id", "pos"), "left_semi")
          .groupBy("tok", "nxt").agg((-count(lit(1))).as("dn"))
        // added: every NEW adjacency with a merged token on either side
        val newPaired = rw.stream
          .withColumn("nxt", lead(col("tok"), 1).over(wDoc))
          .withColumn("nxtm", lead(col("is_merged"), 1).over(wDoc))
          .localCheckpoint(eager = false) // added set + next round's pick/rewrite
          .transform(graft.CachePool.persist)
        val added = newPaired
          .filter(col("nxt").isNotNull && (col("is_merged") || col("nxtm")))
          .groupBy("tok", "nxt").agg(count(lit(1)).as("dn"))
        val delta = removed.unionByName(added)
          .groupBy("tok", "nxt").agg(sum(col("dn")).as("dn"))
        deltaMetrics.foreach { m =>
          val removedRows = paired.filter(col("nxt").isNotNull)
            .join(affectedP, Seq("doc_id", "pos"), "left_semi").count()
          val addedRows = newPaired
            .filter(col("nxt").isNotNull && (col("is_merged") || col("nxtm")))
            .count()
          val fullRows = newPaired.filter(col("nxt").isNotNull).count()
          m += ((r, removedRows + addedRows, fullRows))
        }
        counts = counts.join(delta, Seq("tok", "nxt"), "full_outer")
          .select(col("tok"), col("nxt"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"))
          .filter(col("n") > 0)
          .localCheckpoint(eager = false)
          .transform(graft.CachePool.persist)
        stream = rw.stream.select("doc_id", "pos", "tok")
        paired = newPaired.select("doc_id", "pos", "tok", "nxt")
        val nAfter = stream.count()
        out += ((r, w1, w2, nPair, nAfter, nAfter.toDouble / n0.toDouble))
      }
      r += 1
    }
    out.result()
  }

  private def bpeMerges(s: SparkSession, d: String)
      : Seq[(Int, String, String, Long, Long, Double)] =
    graft.CachePool.shared(s, d, "text_bpe_merges")(bpeTrainDelta(s, docsPar(s, d)))

  /** Train-split hash bucket (the text_train_split rule): first 4 hex
    * chars of md5("split|" + doc_id); < "e666" is the ~90% train side.
    */
  private def splitHash: Column =
    substring(md5(concat(lit("split|"), col("doc_id").cast("string"))), 1, 4)

  /** Held-out generalization readout of the trained tokenizer: merges
    * are TRAINED on the train split only, then APPLIED in trained order
    * to the held-out (val + test) streams — no re-counting, no peeking;
    * the per-round held-out compression next to the train compression
    * is the generalization gap a vocab-sizing pass actually reads
    * (a merge table that only compresses its own training text is
    * memorization, not a tokenizer). Same memoized-rounds machinery as
    * [[bpeMerges]]; the apply round is [[bpeRewrite]] with the pair
    * given, so train and apply share one rewrite definition.
    */
  private def bpeHeldout(s: SparkSession, d: String)
      : Seq[(Int, String, String, Double, Long, Option[Double])] =
    graft.CachePool.shared(s, d, "text_bpe_heldout") {
      import org.apache.spark.sql.expressions.Window
      val merges = bpeTrainDelta(s, docsPar(s, d).filter(splitHash < "e666"))
      var stream = bpeStream(docsPar(s, d).filter(splitHash >= "e666"))
      val h0 = stream.count()
      val out = Seq.newBuilder[(Int, String, String, Double, Long, Option[Double])]
      for ((r, w1, w2, _, _, trainRatio) <- merges) {
        val wDoc = Window.partitionBy("doc_id").orderBy("pos")
        val paired = stream
          .withColumn("nxt", lead(col("tok"), 1).over(wDoc))
        stream = bpeRewrite(paired, w1, w2)
        val hAfter = stream.count()
        // h0 == 0 (every doc hashed into the train split): 0/0 would be
        // NaN here and engine-dependent in the oracle — NULL on both
        // sides instead, the family's empty-denominator convention
        out += ((r, w1, w2, trainRatio, hAfter,
          if (h0 == 0L) None else Some(hAfter.toDouble / h0.toDouble)))
      }
      out.result()
    }

  /** Corpus term-frequency table (tok → total occurrences), persisted
    * through CachePool so the lexical-statistics queries that all need
    * it (zipf spectrum, unigram surprise) build it once per session.
    */
  private def termCounts(s: SparkSession, d: String): DataFrame =
    graft.CachePool.persist(
      docsPar(s, d).select(explode(toks).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n")))

  /** Quality-score formula, shared by text_quality and
    * text_quality_sample (and mirrored once in qualityScoreSql) so the
    * four call sites cannot drift apart.
    */
  private[operators] def qualityScore: Column = {
    val n = size(toks)
    val distinctRatio = size(array_distinct(toks)).cast("double") / n
    val stopRatio = hits(toks, STOPWORDS).cast("double") / n
    least(lit(1.0), n.cast("double") / 50.0) *
      (lit(0.5) + lit(0.5) * distinctRatio) - lit(0.1) * stopRatio
  }

  private[operators] def qualityScoreSql: String =
    s"""LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0)
       |    * (0.5 + 0.5 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |        / len(string_split(text, ' '))))
       |    - 0.1 * (CAST(${hitsSql(STOPWORDS)} AS DOUBLE)
       |        / len(string_split(text, ' ')))""".stripMargin

  // Native codegen kernel, not the interpreted HOF (higher-order
  // functions never enter whole-stage codegen): ArrayIntersectSize has
  // IDENTICAL semantics to size(filter(toks, isin(markers))) — each
  // occurrence in toks counts — proven bitwise-equal in FunctionsSpec.
  private def hits(tokens: Column, markers: Seq[String]): Column =
    org.apache.spark.sql.GraftShim.column(
      graft.functions.expressions.ArrayIntersectSize(
        org.apache.spark.sql.GraftShim.expression(tokens),
        org.apache.spark.sql.GraftShim.expression(typedLit(markers))))

  private def hitsSql(markers: Seq[String]): String = {
    val inList = markers.map(m => s"'$m'").mkString(", ")
    s"len(list_filter(string_split(text, ' '), t -> t IN ($inList)))"
  }

  /** Shared chunk relation (text_chunk_windows / text_chunk_dedup):
    * overlapping CHUNK_W-token windows at stride CHUNK_STRIDE with an
    * md5 content fingerprint per chunk. Persisted so the family shares
    * one generate+slice pass.
    */
  private def chunkRel(s: SparkSession, d: String): DataFrame = {
    val starts = sequence(lit(0), size(col("t")) - 1, lit(CHUNK_STRIDE))
    val chunk = slice(col("t"), col("chunk_start") + 1, lit(CHUNK_W))
    docsPar(s, d)
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), col("t"),
        posexplode(starts).as(Seq("chunk_idx", "chunk_start")))
      .select(col("doc_id"),
        col("chunk_idx").cast("int").as("chunk_idx"),
        col("chunk_start").cast("long").as("chunk_start"),
        size(chunk).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", chunk)).as("chunk_fp"))
      .transform(graft.CachePool.persist)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Token counting: whitespace tokens + a BPE-ish regex token stream.
    "text_tokens" -> ((s, d) => {
      docsPar(s, d).select(
        col("doc_id"),
        size(toks).as("n_tokens_ws"),
        size(regexp_extract_all(col("text"), lit(TOKEN_RE), lit(0))).as("n_tokens_re"),
        length(col("text")).as("n_chars_m"))
    }),

    // Quality scoring: length/diversity/stopword features + a fixed
    // deterministic score formula.
    "text_quality" -> ((s, d) => {
      val n = size(toks)
      val distinctRatio = size(array_distinct(toks)).cast("double") / n
      val stopRatio = hits(toks, STOPWORDS).cast("double") / n
      // single-space-separated corpus: chars excluding separators
      val avgTokLen = (length(col("text")) - (n - lit(1))).cast("double") / n
      val score = qualityScore
      docsPar(s, d).select(
        col("doc_id"), n.as("n_tokens"),
        distinctRatio.as("distinct_ratio"),
        stopRatio.as("stopword_ratio"),
        avgTokLen.as("avg_token_len"),
        score.as("quality_score"))
    }),

    // Heuristic language ID by marker-token hits; grouped confusion
    // summary against the ground-truth `lang` column.
    "text_langid" -> ((s, d) => {
      // staged selects: the token array once per row, then one marker
      // count per language. A single projection would inline `toks`
      // into every branch; CollapseProject keeps multiply-referenced
      // non-cheap aliases in their own Project, so each stage computes
      // exactly once.
      val hcols = MARKERS.map { case (l, ms) => l -> col(s"h_$l") }
      val m = greatest(hcols.map(_._2): _*)
      val predicted = hcols.tail.foldLeft(when(hcols.head._2 === m, hcols.head._1)) {
        case (acc, (l, h)) => acc.when(h === m, l)
      }
      docsPar(s, d)
        .select(col("lang"), toks.as("tk"))
        .select(col("lang") +:
          MARKERS.map { case (l, ms) => hits(col("tk"), ms).as(s"h_$l") }: _*)
        .select(col("lang"), predicted.as("predicted"))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n"))
    }),

    // Character-n-gram language ID: score = how many of the doc's char
    // bigrams appear in a fixed per-language profile (the classic
    // Cavnar–Trenkle shape with a literal profile so both engines agree
    // exactly); argmax with fixed priority order.
    "text_langid_ngram" -> ((s, d) => {
      val bigrams = array_distinct(transform(
        sequence(lit(1), length(col("text")) - 1),
        i => col("text").substr(i, lit(2))))
      // staged like text_langid: the single-projection form inlined the
      // interpreted bigram pipeline into every CASE branch — 16
      // evaluations per row (measured 2.0 s at sf0.1; ~0.5 s staged)
      val scored = NGRAM_PROFILES.map { case (l, _) => l -> col(s"h_$l") }
      val m = greatest(scored.map(_._2): _*)
      val predicted = scored.tail.foldLeft(when(scored.head._2 === m, scored.head._1)) {
        case (acc, (l, h)) => acc.when(h === m, l)
      }
      docsPar(s, d)
        .select(col("lang"), bigrams.as("bg"))
        .select(col("lang") +:
          NGRAM_PROFILES.map { case (l, prof) =>
            size(filter(col("bg"), g => g.isin(prof.map(x => x: Any): _*)))
              .as(s"h_$l")
          }: _*)
        .select(col("lang"), predicted.as("predicted"))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n"))
    }),

    // TF-IDF top terms per document. idf kept rational (N/df, no log:
    // libm log isn't bitwise-portable across engines) — ranking is
    // order-isomorphic to the log form for fixed N. Two aggregations +
    // one window; all shuffle keys are term or doc_id.
    // Length-bias audit of the quality signal: per source, the Pearson
    // correlation between document length and quality score. A strongly
    // positive r means the "quality" filter is really a length filter —
    // the curation bias check run BEFORE a score threshold reshapes the
    // corpus. Scores are quantized onto the 2^30 grid (identical
    // doubles → identical grid ints on both engines), so the power sums
    // are exact decimals and the correlation divides identical
    // operands. Zero-variance sources (all-equal length or score) yield
    // NULL, not a division artifact. One hash aggregation.
    "text_quality_length_bias" -> ((s, d) => {
      val y = floor(qualityScore * 1073741824.0 + 0.5).cast("long")
      def pd(c: Column) = sum(c.cast("decimal(38,0)")).cast("double")
      val vx = col("n") * col("sxx") - col("sx") * col("sx")
      val vy = col("n") * col("syy") - col("sy") * col("sy")
      docsPar(s, d)
        .select(col("source"), col("n_chars").as("x"), y.as("y"))
        .groupBy("source")
        .agg(count(lit(1)).cast("double").as("n"),
          pd(col("x")).as("sx"), pd(col("y")).as("sy"),
          pd(col("x") * col("y")).as("sxy"),
          pd(col("x") * col("x")).as("sxx"),
          pd(col("y") * col("y")).as("syy"))
        .select(col("source"), col("n").cast("long").as("n_docs"),
          when(vx === 0.0 || vy === 0.0, lit(null).cast("double"))
            .otherwise((col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(vx) * sqrt(vy)))
            .as("corr_len_quality"))
    }),

    // Relevance search top-k — the query side of the reference's
    // Elasticsearch materialization: rank documents for a keyword query
    // by Σ tf·idf with the INTEGER idf grid (n_docs div df), so scores
    // are exact BIGINTs and the global top-10 is a deterministic
    // TakeOrdered (score desc, doc_id). The scan prunes to rows
    // containing query terms BEFORE any aggregation; df for the ≤|q|
    // query terms is a broadcast, as is the 1-row corpus count. At
    // 100 TB this is the standing-inverted-index probe pattern: only
    // postings for the query terms move, never the corpus.
    "search_keyword_topk" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val n = docs.agg(count(lit(1)).as("n_docs")).withColumn("__k", lit(1))
      val tf = docs.select(col("doc_id"), explode(toks).as("term"))
        .filter(col("term").isin(SEARCH_TOKS: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .transform(graft.CachePool.persist) // df pass + scoring pass
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfreq), "term")
        .withColumn("__k", lit(1)).join(broadcast(n), "__k")
        .groupBy("doc_id")
        .agg(sum(col("tf") * expr("n_docs div df")).as("score"),
          count(lit(1)).as("n_terms_hit"))
        .orderBy(col("score").desc, col("doc_id")).limit(10)
    }),

    // BM25 ranking — the tier every real search engine ships above
    // raw tf·idf: term frequency SATURATES (k1 = 1.2, a 10th
    // occurrence buys almost nothing) and long documents are
    // normalized by dl/avgdl (b = 0.75), killing the "longest doc
    // wins" bias the plain sum has. Portability: idf stays the
    // family's integer grid (n_docs div df — exact, monotone in df;
    // ln() would drag libm in), dl/total/n are exact BIGINTs, and the
    // float part is a FIXED expression tree mirrored token-for-token
    // in the oracle, so each per-term score is the identical double.
    // The per-doc Σ over terms folds in SORTED TERM ORDER (array_sort
    // + aggregate ↔ list(... ORDER BY term) + list_reduce) — a plain
    // SUM(double) would round differently under different partial
    // orders, the one float hazard a ≤|q|-term sum actually has. Same
    // standing-index probe shape as search_keyword_topk: only query-
    // term postings move, the corpus never shuffles.
    "search_bm25_topk" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val n = docs.agg(count(lit(1)).as("n_docs"),
        sum(size(toks).cast("long")).as("total_tokens"))
        .withColumn("__k", lit(1))
      val dl = docs.select(col("doc_id"), size(toks).cast("long").as("dl"))
      val tf = docs.select(col("doc_id"), explode(toks).as("term"))
        .filter(col("term").isin(SEARCH_TOKS: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .transform(graft.CachePool.persist)
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .withColumn("__k", lit(1)).join(broadcast(n), "__k")
        .withColumn("avgdl",
          col("total_tokens").cast("double") / col("n_docs").cast("double"))
        .withColumn("sc",
          expr("CAST(n_docs div df AS DOUBLE)") *
            (col("tf").cast("double") * lit(2.2)) /
            (col("tf").cast("double") +
              lit(1.2) * (lit(0.25) +
                lit(0.75) * col("dl").cast("double") / col("avgdl"))))
        .groupBy("doc_id")
        .agg(expr("""aggregate(
            transform(array_sort(collect_list(struct(term, sc))), p -> p.sc),
            CAST(0 AS DOUBLE), (a, x) -> a + x)""").as("score"),
          count(lit(1)).as("n_terms_hit"), max("dl").as("dl"))
        .orderBy(col("score").desc, col("doc_id")).limit(10)
    }),

    // Phrase search census per source: exact substring match count and
    // total occurrences via the length/replace identity — no regex, no
    // tokenizer, identical on every engine.
    "search_phrase_match" -> ((s, d) => {
      val occ = expr(s"(length(text) - length(replace(text, '$SEARCH_PHRASE', '')))" +
        s" div ${SEARCH_PHRASE.length}")
      Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("text").contains(SEARCH_PHRASE), 1L).otherwise(0L))
            .as("n_match"),
          sum(occ).as("n_occurrences"))
        .withColumn("match_share",
          col("n_match").cast("double") / col("n_docs").cast("double"))
    }),

    // Positional phrase search — the INVERTED-INDEX route to the same
    // phrase the substring census scans for: postings carry (doc_id,
    // position), and a phrase hit is an adjacency join (term₀ at p,
    // term₁ at p+1), i.e. how a real search engine evaluates quoted
    // queries against a standing positional index. Token-exact where
    // search_phrase_match is byte-exact: the substring scan also hits
    // across token boundaries ("s|table scan" contains "table scan"),
    // so the two relevance census queries answer different questions —
    // that asymmetry is why both exist. Scale: only the two phrase
    // terms' postings leave the scan (filter BEFORE the explode's
    // shuffle boundary), and the adjacency join is an equi-join on
    // (doc_id, position±1) — hash-partitionable, co-located, bounded by
    // the phrase terms' document frequency, never the corpus.
    "search_positional_phrase" -> ((s, d) => {
      val ph = SEARCH_PHRASE.split(" ").toSeq
      val post = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(toks).as(Seq("pos", "term")))
        .filter(col("term").isin(ph: _*))
        .transform(graft.CachePool.persist) // one probe, two term slices
      val p0 = post.filter(col("term") === ph.head)
        .select(col("doc_id"), col("pos"))
      val p1 = post.filter(col("term") === ph(1))
        .select(col("doc_id").as("d1"), col("pos").as("pos1"))
      p0.join(p1, col("doc_id") === col("d1") &&
          col("pos") + 1 === col("pos1"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_occurrences"),
          // 1-based to match the oracle's generate_subscripts
          (min(col("pos")) + 1).cast("long").as("first_pos"))
        .orderBy(col("n_occurrences").desc, col("doc_id")).limit(10)
    }),

    // Heaps'-law vocabulary-growth curve — V(N) at ten corpus-prefix
    // checkpoints, the planning number for anything vocabulary-sized
    // (tokenizer training, postings memory, embedding tables): sublinear
    // growth says when the vocab budget saturates; a curve that keeps
    // climbing linearly says the corpus keeps importing novel junk
    // (unfiltered boilerplate IDs, the text_repeat_run signal). ONE
    // pass, no per-prefix rescans: a term's contribution to every
    // prefix is determined by its FIRST-SEEN doc (min doc_id per term),
    // so vocab-at-checkpoint is a cumulative census over the ≤10
    // first-seen deciles — the same trick that makes dedup_cluster_sizes
    // O(distinct sizes). Doc and token counts cumulate from the same
    // decile histogram; everything integer-exact.
    "text_heaps_curve" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = docsPar(s, d)
        .select(col("doc_id"), size(toks).cast("long").as("ntok"),
          array_distinct(toks).as("terms"))
        .transform(graft.CachePool.persist) // doc census + postings
      val mx = docs.agg(max("doc_id").as("mx")).withColumn("__k", lit(1))
      val db = docs.withColumn("__k", lit(1)).join(broadcast(mx), "__k")
        .withColumn("b", expr("(doc_id * 10) div (mx + 1)"))
        .groupBy("b").agg(count(lit(1)).as("nd"), sum("ntok").as("nt"))
      val tb = docs.select(col("doc_id"), explode(col("terms")).as("term"))
        .groupBy("term").agg(min("doc_id").as("fd"))
        .withColumn("__k", lit(1)).join(broadcast(mx), "__k")
        .withColumn("b", expr("(fd * 10) div (mx + 1)"))
        .groupBy("b").agg(count(lit(1)).as("nv"))
      val w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
      db.join(tb, Seq("b"), "full_outer")
        .withColumn("n_docs", sum(coalesce(col("nd"), lit(0L))).over(w))
        .withColumn("n_tokens", sum(coalesce(col("nt"), lit(0L))).over(w))
        .withColumn("vocab", sum(coalesce(col("nv"), lit(0L))).over(w))
        .select((col("b") + 1).cast("int").as("decile"),
          col("n_docs"), col("n_tokens"), col("vocab"))
        .orderBy("decile")
    }),

    // Incremental inverted-index maintenance — IVM applied to the search
    // index the reference's consumer actually keeps fresh (every CDC
    // upsert into ES re-indexes the document, es_consumer/main.go:77-95).
    // Synthesized changelog over the corpus: docs with id % 10 == 0
    // arrive as INSERTS (absent from the base state); docs with
    // id % 7 == 0 (and % 10 != 0) are UPDATED down to the first half of
    // their tokens — a real edit, so the delta must RETRACT df for every
    // term that lived only in the dropped half, not just add. The df
    // delta algebra (+distinct(new) −distinct(old) per touched doc) is
    // applied to the base index and compared term-by-term against a
    // full recompute over the final corpus — `consistent` must be true
    // on every row, making the query self-auditing. Scale: the delta
    // side touches only CHANGED docs' postings — O(Δ) index refresh per
    // batch instead of the O(corpus) rebuild, which is the entire point
    // of maintaining an inverted index under CDC at 100 TB.
    "text_incremental_df" -> ((s, d) => {
      val docs = docsPar(s, d)
      val isNew = col("doc_id") % 10 === 0
      val isUpd = col("doc_id") % 10 =!= 0 && col("doc_id") % 7 === 0
      val halfTerms = expr(
        "array_distinct(slice(split(text, ' '), 1, size(split(text, ' ')) div 2))")
      val fullTerms = array_distinct(toks)
      def dfOf(docTerms: DataFrame, as: String): DataFrame =
        docTerms.select(explode(col("terms")).as("term"))
          .groupBy("term").agg(count(lit(1)).as(as))
      // base state: inserts absent, updated docs still at FULL text
      val baseDf = dfOf(docs.filter(!isNew).select(fullTerms.as("terms")), "df_base")
      // delta: per changed doc, +new distinct terms, −old distinct terms
      val delta = docs.filter(isNew).select(fullTerms.as("terms"))
        .select(explode(col("terms")).as("term"), lit(1L).as("d"))
        .unionByName(docs.filter(isUpd).select(halfTerms.as("terms"))
          .select(explode(col("terms")).as("term"), lit(1L).as("d")))
        .unionByName(docs.filter(isUpd).select(fullTerms.as("terms"))
          .select(explode(col("terms")).as("term"), lit(-1L).as("d")))
        .groupBy("term").agg(sum("d").as("d"))
      val ivm = baseDf.join(delta, Seq("term"), "full_outer")
        .select(col("term"),
          (coalesce(col("df_base"), lit(0L)) + coalesce(col("d"), lit(0L)))
            .as("df_ivm"))
        .filter(col("df_ivm") > 0)
      // ground truth: full recompute over the final corpus state
      val finalDf = dfOf(docs.select(
        when(isUpd, halfTerms).otherwise(fullTerms).as("terms")), "df_full")
      ivm.join(finalDf, Seq("term"), "full_outer")
        .select(col("term"), coalesce(col("df_ivm"), lit(0L)).as("df_ivm"),
          coalesce(col("df_full"), lit(0L)).as("df_full"))
        .withColumn("consistent", col("df_ivm") === col("df_full"))
        .orderBy(col("df_full").desc, col("term")).limit(50)
    }),

    // Weighted sparse similarity join: top document pairs by TF-IDF
    // cosine — the WEIGHTED complement to the jaccard family (set
    // overlap treats "the" and a rare entity alike; idf weighting makes
    // shared rare terms dominate). Engine-exact throughout: weights are
    // INTEGER w = tf·(N div df) (the integer-grid idf), and the dot /
    // norm sums accumulate in DECIMAL(38,0) — NOT long: with df ≤ 50,
    // w grows ~ tf·N/50, so Σ w² would pass 2^63 around N ≈ 10⁸ docs
    // at tf ≈ 20 (Spark sum(long) wraps silently; DuckDB widens to
    // HUGEINT — a silent cross-engine divergence). Decimal(38,0) is
    // exact to 10³⁸: at 2.5×10¹⁰ docs (≈100 TB of 4 KB text) and
    // tf ≤ 10⁴, Σ w² ≤ 10⁶·(10⁴·5×10⁸)² = 2.5×10³¹ — five orders of
    // headroom. w ITSELF stays long: overflow needs tf·N > 9.2×10¹⁸,
    // i.e. one term repeated >3×10⁸ times in one document. The final
    // cosine divides identical exact operands through sqrt — identical
    // doubles, safely comparable for the global top-20 TakeOrdered.
    // Scale: join terms are capped at df ≤ TFIDF_DF_CAP (the standard
    // stop-term island guard — candidates cost Σ df², bounded), and the
    // norm relation is O(docs), co-partitioned on doc_id.
    "text_tfidf_cosine_pairs" -> ((s, d) => {
      val docs = docsPar(s, d)
      val nDf = docs.agg(count(lit(1)).as("n_docs")).withColumn("__k", lit(1))
      val terms = docs.select(col("doc_id"), explode(toks).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .transform(graft.CachePool.persist) // df pass + weight pass
      val dfreq = terms.groupBy("term").agg(count(lit(1)).as("df"))
      val weighted = terms
        .join(broadcast(dfreq.filter(col("df") <= TFIDF_DF_CAP)), "term")
        .withColumn("__k", lit(1)).join(broadcast(nDf), "__k")
        .select(col("doc_id"), col("term"),
          (col("tf") * expr("n_docs div df")).as("w"))
        .transform(graft.CachePool.persist) // norms + self-join
      val norms = weighted.groupBy("doc_id")
        .agg(sum(col("w").cast("decimal(38,0)") * col("w")).as("sumsq"))
      val pairs = weighted.as("a")
        .join(weighted.as("b"), Seq("term"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(sum(col("a.w").cast("decimal(38,0)") * col("b.w")).as("dot"))
      pairs
        .join(norms.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("sumsq", "sa"), "doc_a")
        .join(norms.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("sumsq", "sb"), "doc_b")
        .withColumn("cosine", col("dot").cast("double") /
          (sqrt(col("sa").cast("double")) * sqrt(col("sb").cast("double"))))
        // Ship the dot cell as BIGINT: the DECIMAL(38,0) ACCUMULATOR is
        // load-bearing (the Σ w² overflow bound above), but the shipped
        // top-20 dot values are ≤ ~10¹³ at every test SF — provably
        // inside long — and a DECIMAL(p>18) output column is hash-
        // fragile across readers (INT128-backed decimals render
        // differently between parquet-read and driver-fetch paths; same
        // hazard class as round 6's layout_compaction_plan). The
        // OutputTypeSpec allowlist enforces this repo-wide.
        .select(col("doc_a"), col("doc_b"), col("dot").cast("bigint").as("dot"),
          col("cosine"))
        .orderBy(col("cosine").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    }),

    "text_tfidf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = docsPar(s, d)
      // scalar N (the oracle's COUNT(*) subquery) joined in as a
      // single-row broadcast on a constant key — a BroadcastHashJoin,
      // not a nested loop, and plan CONSTRUCTION stays lazy (a
      // docs.count() here would run a driver job before the query is
      // even executed)
      val nDf = docs.agg(count(lit(1)).as("n_docs")).withColumn("__k", lit(1))
      // exploded postings feed BOTH tf and df → persist one copy
      val terms = docs.select(col("doc_id"), explode(toks).as("term"))
        .transform(graft.CachePool.persist)
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // df is |vocab|-sized → broadcast; tf never reshuffles for the join
      val dfreq = terms.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("term"))
      tf.join(broadcast(dfreq), "term")
        .withColumn("__k", lit(1))
        .join(broadcast(nDf), "__k")
        .withColumn("tfidf",
          col("tf").cast("double") *
            (col("n_docs").cast("double") / col("df").cast("double")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("tfidf"), col("rn"))
    }),

    // Corpus vocabulary: top-50 terms by frequency (tie-broken) — the
    // partial-aggregated explode+count shape that scales to any corpus.
    "text_vocab_top50" -> ((s, d) => {
      docsPar(s, d)
        .select(explode(toks).as("term"))
        .groupBy("term")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term"))
        .limit(50)
    }),

    // Tokenizer-vocabulary COVERAGE per source: what share of each
    // source's token OCCURRENCES the top-V corpus vocabulary covers —
    // the screen a tokenizer-training pass runs to size V and to spot
    // sources whose text a fixed vocab would shatter into UNKs/bytes.
    // V = 10 against this corpus's 31-word vocabulary (real runs use
    // 30k-100k; the SHAPE is what scales): one persisted explode pass
    // feeds the global top-V census (a bounded TakeOrdered over the
    // |vocab|-sized counts) and the per-source coverage join — the
    // top-V relation broadcasts, so the postings never reshuffle.
    "text_vocab_coverage" -> ((s, d) => {
      val posting = docsPar(s, d)
        .select(col("source"), explode(toks).as("term"))
        .transform(graft.CachePool.persist) // vocab census + coverage pass
      val top = posting.groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term")).limit(VOCAB_COVER_TOP)
        .select(col("term"), lit(1L).as("in_vocab"))
      posting.join(broadcast(top), Seq("term"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(coalesce(col("in_vocab"), lit(0L))).as("n_covered"))
        .withColumn("coverage",
          col("n_covered").cast("double") / col("n_tokens").cast("double"))
    }),

    // BPE merge step 1: global adjacent-token-pair frequencies, the
    // count a byte-pair-encoding tokenizer trainer computes each merge
    // round. Pure per-row pair expansion (no shuffle until the count),
    // map-side combinable; at 100 TB each merge round is exactly this
    // one aggregation, so tokenizer training cost is O(rounds) scans of
    // an already-tokenized corpus. Top-30 with full tie order (n desc,
    // then the pair itself) for a deterministic result.
    "text_bpe_pairs" -> ((s, d) => {
      docsPar(s, d)
        .filter(size(toks) >= 2)
        .select(explode(transform(sequence(lit(0), size(toks) - lit(2)),
          i => struct(toks(i).as("w1"), toks(i + lit(1)).as("w2")))).as("p"))
        .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w1"), col("w2"))
        .limit(30)
    }),

    // The ITERATED merge table (see [[bpeMerges]]): round, merged pair,
    // its count on the round's rewritten streams, tokens remaining, and
    // the compression ratio vs the raw stream — the actual artifact a
    // BPE trainer emits, where text_bpe_pairs is only round 1's
    // candidate ranking. Values come from the memoized unrolled rounds;
    // the oracle replays the identical rounds as CTE stages.
    "text_bpe_merges" -> ((s, d) => {
      import s.implicits._
      bpeMerges(s, d).toDF("merge_round", "w1", "w2", "n_pair",
        "n_tokens_after", "compression_ratio")
    }),

    // TOKEN-budget mixture weights — the Curation family's
    // `text_source_temperature` flattens by DOC counts; training
    // budgets are token-denominated, and the two disagree exactly when
    // per-doc length varies by source (a long-doc source is
    // under-weighted by doc counts). Same α = 0.5 sqrt rationale
    // (correctly-rounded in both engines, unlike pow); new here: token
    // shares and effective_epochs = temp_share·T/n_i — how many times
    // the sampler re-reads that source per budget-T token epoch (>1 is
    // upsampling, the number a dedup-aware curriculum watches, since
    // upsampled sources repeat before the budget is spent). The Σ√n_i
    // normalizer is an ascending-source seedless reduceLeft over the
    // collected O(sources) aggregates (the powerIterate convention)
    // mirrored token-for-token by the oracle's ordered list_reduce —
    // where text_source_temperature's doc-count route could stay on
    // its integer grid, token counts are large enough that the grid
    // would clip, so the fold IS the portability mechanism here.
    "text_mixture_weights" -> ((s, d) => {
      val per = docsPar(s, d).groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(toks).cast("long")).cast("long").as("n_tokens"))
        .transform(graft.CachePool.persist) // scalar collect + result rows
      val rows = per.select("source", "n_tokens").collect()
        .sortBy(_.getString(0))
      // empty-corpus guards: the scalars never reach a shipped row
      // when `per` is empty, they just must not throw / divide by zero
      val tTot = if (rows.isEmpty) 1L
        else rows.map(_.getLong(1)).reduceLeft(_ + _) // exact BIGINT
      val sumSqrt = if (rows.isEmpty) 1.0
        else rows.map(r => math.sqrt(r.getLong(1).toDouble))
          .reduceLeft(_ + _)
      per
        .withColumn("nat_share",
          col("n_tokens").cast("double") / lit(tTot.toDouble))
        .withColumn("temp_share",
          sqrt(col("n_tokens").cast("double")) / lit(sumSqrt))
        .withColumn("effective_epochs",
          col("temp_share") * lit(tTot.toDouble) /
            col("n_tokens").cast("double"))
    }),

    // The N-GRAM half of the repetition family (text_repetition ships
    // the word-level signals): per doc, the occupancy of the single
    // most frequent bigram and the fraction of trigram occurrences
    // that are repeats — the Gopher-class signals that catch looping
    // PHRASES ("buy now buy now") which per-word ratios miss because
    // every word can be individually common. Per-source census: docs
    // flagged by each signal, by either, and the mean duplicate-trigram
    // fraction (per-doc ratios grid-quantized to 2^-30 then summed as
    // exact integers — the text_quality_sample convention — so the mean
    // is engine-identical). Scale shape: one explode per n-gram width,
    // map-combinable hash aggs keyed by doc, O(sources) out; the flag
    // compares are exact-integer divisions both engines mirror.
    "text_repetition_ngrams" -> ((s, d) => {
      val Q = 1073741824.0
      val docs = docsPar(s, d).filter(size(toks) >= 4)
        .select(col("doc_id"), col("source"), toks.as("t"))
      val bi = docs.select(col("doc_id"), col("source"),
        (size(col("t")) - 1).as("n_bi"),
        explode(transform(sequence(lit(0), size(col("t")) - lit(2)),
          i => concat_ws("|", col("t")(i), col("t")(i + lit(1))))).as("g"))
      val topBi = bi.groupBy("doc_id", "source", "n_bi", "g")
        .agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "source", "n_bi").agg(max("c").as("top_c"))
      val tri = docs.select(col("doc_id"), (size(col("t")) - 2).as("n_tri"),
        explode(transform(sequence(lit(0), size(col("t")) - lit(3)),
          i => concat_ws("|", col("t")(i), col("t")(i + lit(1)),
            col("t")(i + lit(2))))).as("g"))
      val triStats = tri.groupBy("doc_id", "n_tri")
        .agg(countDistinct(col("g")).as("d_tri"))
      val tbFrac = col("top_c").cast("double") / col("n_bi")
      val dtFrac = (col("n_tri") - col("d_tri")).cast("double") / col("n_tri")
      topBi.join(triStats, "doc_id")
        .select(col("source"), tbFrac.as("tb"), dtFrac.as("dt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("tb") > REP_TOP_BIGRAM_T, lit(1)))
            .as("n_bigram_flagged"),
          count(when(col("dt") > REP_DUP_TRIGRAM_T, lit(1)))
            .as("n_trigram_flagged"),
          count(when(col("tb") > REP_TOP_BIGRAM_T ||
            col("dt") > REP_DUP_TRIGRAM_T, lit(1))).as("n_flagged"),
          (sum(floor(col("dt") * Q + 0.5).cast("long")).cast("double") /
            (count(lit(1)).cast("double") * Q)).as("mean_dup_trigram"))
    }),

    // Held-out tokenizer generalization (see [[bpeHeldout]]): the merge
    // table trained on the ~90% train split, applied in trained order
    // to the held-out streams. train_compression vs heldout_compression
    // per round is the generalization gap — the number that tells a
    // vocab-sizing pass whether another merge round still buys
    // compression on text the trainer never saw.
    "text_bpe_heldout" -> ((s, d) => {
      import s.implicits._
      bpeHeldout(s, d).toDF("merge_round", "w1", "w2",
        "train_compression", "n_tokens_after", "heldout_compression")
    }),

    // Skip-gram co-occurrence counts: (center, context) token pairs at
    // forward offsets 1 and 2 — the sufficient statistic of
    // word2vec-style embedding training and PMI association mining
    // (symmetric-window counts are the mirror sum of these directed
    // rows). Keeping the offset as a column gives the positional
    // co-occurrence matrix SVD-of-PMI methods factor. Same shuffle
    // shape as text_bpe_pairs: per-row expansion bounded by 2·|doc|,
    // map-side combinable hash agg, top-k under a total tie order.
    "text_skipgram_pairs" -> ((s, d) => {
      // Tokenize ONCE and emit both offsets from the same token array in
      // a single flatten pass — the explode-the-offset-first alternative
      // duplicates every text payload row and re-splits it per offset
      // (measured 1.8 s → this shape at sf0.1; same result set). The
      // index range is the offset-1 range for both offsets; an offset-2
      // pair at the boundary reads past the array via `get` (the
      // ANSI-tolerant accessor: null instead of INVALID_ARRAY_INDEX)
      // and is dropped by the isNotNull filter (split never yields
      // null tokens, so null w2 ⇔ out of range).
      val w = col("w")
      docsPar(s, d)
        .select(toks.as("w"))
        .filter(size(w) >= 2)
        .select(explode(flatten(transform(array(lit(1), lit(2)), dst =>
          transform(sequence(lit(0), size(w) - lit(2)),
            i => struct(dst.as("dist"), w(i).as("w1"),
              get(w, i + dst).as("w2")))))).as("p"))
        .filter(col("p.w2").isNotNull)
        .groupBy(col("p.dist").as("dist"), col("p.w1").as("w1"),
          col("p.w2").as("w2"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("dist"), col("w1"), col("w2"))
        .limit(40)
    }),

    // Collocation extraction: adjacent-pair association strength as the
    // PMI RATIO r = P(w1,w2) / (P(w1)·P(w2)) = n_pair·N / (n_w1·n_w2) —
    // deliberately NOT log-PMI: log is not required to be correctly
    // rounded by IEEE 754, so Spark's StrictMath and DuckDB's libm can
    // disagree in the last ulp and break cross-engine determinism,
    // while the ratio needs only long→double conversions, two
    // multiplications and one division (all exactly-rounded, identical
    // bits in both engines; doubles BEFORE multiplying — the long
    // product n_pair·N overflows 2^63 at web-corpus scale). Rank order
    // is identical either way (log is monotone). Three aggregations
    // over one token relation: unigram counts, bigram counts, and the
    // corpus total (1-row broadcast); min-count floor kills the
    // hapax-pair noise that dominates raw PMI.
    "text_pmi_ratio" -> ((s, d) => {
      val tok = docsPar(s, d)
        .filter(size(toks) >= 2)
        .select(explode(transform(sequence(lit(0), size(toks) - lit(2)),
          i => struct(toks(i).as("w1"), toks(i + lit(1)).as("w2")))).as("p"))
        .transform(graft.CachePool.persist)
      val uni = docsPar(s, d)
        .select(explode(toks).as("w"))
        .groupBy("w").agg(count(lit(1)).as("nw"))
        .transform(graft.CachePool.persist)
      val total = uni.agg(sum("nw").as("n_tokens"))
      val pairs = tok.groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .agg(count(lit(1)).as("n_pair"))
        .filter(col("n_pair") >= PMI_MIN_PAIR)
      pairs
        .join(uni.select(col("w").as("w1"), col("nw").as("n_w1")), "w1")
        .join(uni.select(col("w").as("w2"), col("nw").as("n_w2")), "w2")
        .crossJoin(broadcast(total))
        .select(col("w1"), col("w2"), col("n_pair"),
          (col("n_pair").cast("double") * col("n_tokens").cast("double") /
            (col("n_w1").cast("double") * col("n_w2").cast("double")))
            .as("pmi_ratio"))
        .orderBy(col("pmi_ratio").desc, col("w1"), col("w2"))
        .limit(30)
    }),

    // Weighted sampling without replacement at corpus scale: PRIORITY
    // SAMPLING (Duffield/Lund/Thorup, JACM 2007) — each doc gets
    // priority w/u for a uniform u ∈ (0,1], and the top-k priorities
    // form the sample (inclusion probability increasing in weight w =
    // token count, so the slice over-represents long documents the way
    // a token-budget curation pass wants). u is hash-derived
    // ((hv+1)/2^16 from the md5 keyed slice, the text_sample_hash
    // pattern), so membership is a pure function of doc_id: replayable,
    // shard-order-free, engine-identical. Determinism of the score: w
    // and hv are exact ints; priority = (w·2^16 as double) / (hv+1 as
    // double) is two exact conversions (w·2^16 < 2^53) and ONE IEEE
    // division — bit-identical in Spark and DuckDB. The plan is
    // TakeOrderedAndProject: per-partition top-k heaps + a k-row driver
    // merge, never a global sort — the only all-corpus traffic is
    // k rows per partition, at any corpus size.
    "text_priority_sample" -> ((s, d) => {
      val hv = conv(substring(
        md5(concat(lit("ps|"), col("doc_id").cast("string"))), 1, 4), 16, 10)
        .cast("long")
      docsPar(s, d)
        .select(col("doc_id"), col("source"),
          size(toks).cast("long").as("n_tokens"), hv.as("hv"))
        .withColumn("priority",
          (col("n_tokens") * 65536L).cast("double") /
            (col("hv") + 1L).cast("double"))
        .select("doc_id", "source", "n_tokens", "priority")
        .orderBy(col("priority").desc, col("doc_id"))
        .limit(100)
    }),

    // Curriculum bucketing: decile assignment by quality score WITHOUT
    // a global per-doc sort. The corpus aggregates to one row per
    // DISTINCT score first (scores are a deterministic closed-form over
    // small integer features, so the distinct-score relation is
    // planner-sized — the layout_range_split argument), then a window
    // over those few rows computes the exact cumulative histogram, and
    // decile(s) = min(9, ⌊10·|docs below s|/n⌋) — all-integer, so ties
    // share a decile and both engines agree bitwise. Per-doc work is
    // one scan + one score-keyed agg; the single-partition window sees
    // only distinct scores, never documents.
    "text_quality_deciles" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val perScore = docsPar(s, d)
        .select(qualityScore.as("q"), size(toks).cast("long").as("nt"))
        .groupBy("q")
        .agg(count(lit(1)).as("nd"), sum("nt").as("st"))
      val ord = Window.orderBy("q")
      val before = ord.rowsBetween(Window.unboundedPreceding, -1)
      val whole = ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      perScore
        .withColumn("cum_before", coalesce(sum("nd").over(before), lit(0L)))
        .withColumn("n_total", sum("nd").over(whole))
        .withColumn("decile",
          least(lit(9L), expr("(cum_before * 10) div n_total")))
        .groupBy("decile")
        .agg(sum("nd").as("n_docs"), sum("st").as("sum_tokens"),
          min("q").as("min_score"), max("q").as("max_score"))
    }),

    // Per-source quantile NORMALIZATION of the quality score — the
    // calibration step before any cross-source quality threshold: raw
    // scores are not comparable across sources (different length and
    // vocabulary mixes shift the whole distribution), so each doc maps
    // to its within-source percent rank and downstream curation cuts
    // on q_norm, not q. Scale shape: ranks come from the per-source
    // DISTINCT-SCORE histogram (the text_quality_deciles argument —
    // scores collide massively, so the source-partitioned cumulative
    // window sees a planner-sized relation), broadcast back onto the
    // doc scan by (source, score) — no per-doc ranking window anywhere.
    "text_quality_quantile_norm" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val scored = docsPar(s, d)
        .select(col("doc_id"), col("source"), qualityScore.as("q"))
        .transform(graft.CachePool.persist) // histogram + join back
      val bySrc = Window.partitionBy("source").orderBy("q")
      val cum = scored.groupBy("source", "q").agg(count(lit(1)).as("nd"))
        .withColumn("cum_before", coalesce(
          sum("nd").over(bySrc.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .withColumn("n_src", sum("nd").over(Window.partitionBy("source")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      scored.join(broadcast(cum), Seq("source", "q"))
        .select(col("doc_id"), col("source"), col("q").as("quality_score"),
          when(col("n_src") > 1, col("cum_before").cast("double") /
            (col("n_src") - 1).cast("double"))
            .otherwise(lit(0.0)).as("q_norm"))
    }),

    // Quality-stratified sampling: keep each language's top quintile by
    // quality score — the curation step of a training-data pipeline.
    "text_quality_sample" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val score = qualityScore
      val w = Window.partitionBy("lang")
        .orderBy(col("quality_score").desc, col("doc_id"))
      docsPar(s, d)
        .select(col("doc_id"), col("lang"), score.as("quality_score"))
        .withColumn("pr", percent_rank().over(w))
        .filter(col("pr") <= 0.2)
        .select("doc_id", "lang", "quality_score")
    }),

    // Reproducible sampling at corpus scale: hash-threshold bernoulli
    // (md5 prefix < threshold ≈ 10%) — unlike RNG-based sample(), the
    // same doc is in or out on every engine, every run, every cluster
    // size; this is how you cut a deterministic eval slice from 100 TB.
    "text_sample_hash" -> ((s, d) => {
      val sampled =
        when(substring(md5(concat(lit("sample|"), col("doc_id").cast("string"))),
          1, 4) < "1999", 1).otherwise(0)
      docsPar(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(sampled).cast("long").as("n_sampled"))
    }),

    // Corpus mixture accounting: per-source doc/token mass and its
    // share of the corpus — the number every data-mixing recipe starts
    // from. One hash agg + a 1-row broadcast total (constant-key join,
    // same shape as text_tfidf's scalar N); shares divide exact bigint
    // token counts as doubles in fixed order, so both engines agree
    // bitwise.
    "text_source_mix" -> ((s, d) => {
      val bySource = docsPar(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(toks)).cast("long").as("n_tokens"))
      val total = bySource
        .agg(sum(col("n_tokens")).cast("long").as("total_tokens"))
        .withColumn("__k", lit(1))
      bySource.withColumn("__k", lit(1))
        .join(broadcast(total), "__k")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (col("n_tokens").cast("double") / col("total_tokens")).as("token_share"))
    }),

    // Mixture rebalancing: deterministically down-sample EVERY source
    // to the smallest source's token mass (a uniform target mixture).
    // Membership = keyed md5 threshold (the text_sample_hash pattern):
    // a pure function of doc_id, so the sample is reproducible under
    // replay and shard-order-independent — no RNG state, no global
    // sort. Per-source rates ride a broadcast (|sources| rows); the
    // corpus is scanned once per aggregate with no payload shuffle.
    "text_source_sample" -> ((s, d) => {
      val docs = docsPar(s, d)
        .select(col("doc_id"), col("source"), size(toks).as("nt"))
        .transform(graft.CachePool.persist)
      val bySource = docs.groupBy("source")
        .agg(sum(col("nt")).cast("long").as("src_tokens"))
      val budget = bySource.agg(min("src_tokens").as("budget"))
        .withColumn("__k", lit(1))
      val rated = bySource.withColumn("__k", lit(1))
        .join(broadcast(budget), "__k")
        .select(col("source"),
          (col("budget").cast("double") / col("src_tokens")).as("rate"))
      val hv = conv(substring(
        md5(concat(lit("mix|"), col("doc_id").cast("string"))), 1, 4), 16, 10)
        .cast("int")
      docs.join(broadcast(rated), "source")
        .withColumn("kept",
          when(hv.cast("double") < col("rate") * 65536.0, 1).otherwise(0))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("kept")).cast("long").as("n_kept"),
          sum(col("nt")).cast("long").as("n_tokens"),
          sum(col("kept") * col("nt")).cast("long").as("kept_tokens"))
    }),

    // Corpus integrity audit (the Deequ/Great-Expectations stage every
    // ingest runs before training): row count, null/empty text, stored
    // n_chars vs actual length, duplicate ids. One full scan, one tiny
    // aggregate row out — nothing shuffles but the partial aggregates.
    "text_integrity_audit" -> ((s, d) => {
      docsPar(s, d).agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("text").isNull, 1).otherwise(0)).cast("long").as("n_null_text"),
        sum(when(length(col("text")) === 0, 1).otherwise(0)).cast("long").as("n_empty_text"),
        sum(when(col("n_chars") =!= length(col("text")), 1).otherwise(0))
          .cast("long").as("n_len_mismatch"),
        (count(lit(1)) - countDistinct(col("doc_id"))).as("n_dup_ids"))
    }),

    // Repetition quality signals (the gopher-rules family): per-doc
    // duplicate-word ratio and top-word concentration — the filters
    // that catch degenerate "batch batch batch" documents exact-dedup
    // misses. Two hash aggregations over the exploded words (partial
    // combine on both), no window, no sort.
    "text_repetition" -> ((s, d) => {
      val words = docsPar(s, d).select(col("doc_id"), explode(toks).as("w"))
      val perWord = words.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      perWord.groupBy("doc_id").agg(
        sum("c").cast("long").as("n_words"),
        count(lit(1)).cast("long").as("n_distinct"),
        (lit(1.0) - count(lit(1)).cast("double") / sum("c")).as("dup_word_ratio"),
        (max("c").cast("double") / sum("c")).as("top_word_frac"))
    }),

    // Sequence packing: greedy contiguous packing of documents into
    // fixed CTX-token training windows, PER SHARD — the prefix-sum form
    // that scales. Within a shard, a running token total assigns each
    // doc to bin (tokens-before DIV CTX); shards are independent, so
    // the window shuffles one shard per task instead of coalescing the
    // corpus onto one partition (the global-ORDER-BY prefix sum that
    // kills naive packing at scale). Integer arithmetic throughout —
    // bin boundaries are exact on both engines.
    "text_pack_sequences" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // r18: reads the family's shared persisted relation — the shard
      // exchange below still provides this query's parallelism; the
      // doc_id spread inside docsPar is paid once per family window,
      // not per query
      docsPar(s, d)
        .select(col("doc_id"), (col("doc_id") % PACK_SHARDS).as("shard"),
          size(toks).cast("long").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("bin", expr(s"CAST((cum - n_tokens) DIV $PACK_CTX AS BIGINT)"))
        .groupBy("shard", "bin")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").cast("long").as("bin_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
    }),

    // Packing-efficiency ledger — WHY text_pack_sequences exists, as a
    // number: token efficiency (trained ÷ window-capacity tokens) of
    // the naive one-doc-per-window loader (pad short docs to CTX,
    // truncate long ones — losing tail tokens AND burning pad slots)
    // vs the shipped concat-and-chunk packer (docs span windows; the
    // only padding is each shard's final partial window, ≤ CTX−1
    // tokens per shard by construction). Every cell is exact integer
    // arithmetic; efficiency is one IEEE division of two exact longs.
    // At 100 TB both strategies reduce to one hash aggregation over
    // per-doc token counts (the packer's ledger needs only per-shard
    // totals, NOT the packed assignment itself) — the report costs
    // less than the packing it justifies.
    "text_pack_waste" -> ((s, d) => {
      val ctx = PACK_CTX.toLong
      val t = docsPar(s, d)
        .select(col("doc_id"), (col("doc_id") % PACK_SHARDS).as("shard"),
          size(toks).cast("long").as("n_tokens"))
      def withEff(df: DataFrame, label: String) = df.select(
        lit(label).as("strategy"), col("n_windows"), col("padded_tokens"),
        col("truncated_tokens"), col("trained_tokens"),
        (col("trained_tokens").cast("double") /
          (col("n_windows") * ctx).cast("double")).as("efficiency"))
      val naive = withEff(t.agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("n_tokens") < ctx, lit(ctx) - col("n_tokens"))
          .otherwise(0L)).as("padded_tokens"),
        sum(when(col("n_tokens") > ctx, col("n_tokens") - ctx)
          .otherwise(0L)).as("truncated_tokens"),
        sum(least(col("n_tokens"), lit(ctx))).as("trained_tokens")),
        "one_doc_per_window")
      val packed = withEff(t.groupBy("shard")
        .agg(sum("n_tokens").as("tok"))
        .select(col("tok"),
          expr(s"CAST((tok + ${PACK_CTX - 1}) DIV $PACK_CTX AS BIGINT)").as("w"))
        .agg(sum("w").as("n_windows"),
          sum(col("w") * ctx - col("tok")).as("padded_tokens"),
          sum(lit(0L)).as("truncated_tokens"),
          sum("tok").as("trained_tokens")),
        "concat_chunk_packed")
      naive.unionByName(packed)
    }),

    // Deterministic train/val/test split: md5 bucket of the salted doc
    // id (the text_sample_hash idiom) cut at ~90/5/5. Membership is a
    // pure function of the id, so re-runs, backfills and joins against
    // eval sets land every document in the same split forever — the
    // property a random() split silently lacks.
    "text_train_split" -> ((s, d) => {
      val h = substring(md5(concat(lit("split|"), col("doc_id").cast("string"))), 1, 4)
      val split = when(h < "e666", "train").when(h < "f333", "val").otherwise("test")
      docsPar(s, d)
        .select(col("lang"), split.as("split"), size(toks).cast("long").as("n_tokens"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").cast("long").as("total_tokens"))
    }),

    // End-to-end curation composite: exact-dedup canonicals ∩ quality
    // floor ∩ length floor → per-language corpus stats. The whole
    // LLM-data funnel as one declarative plan (two shuffles: fp window,
    // lang agg).
    "text_curation_pipeline" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("fp").orderBy("doc_id")
      docsPar(s, d)
        .withColumn("fp", md5(lower(trim(col("text")))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1) // canonical copy only
        .withColumn("n_tokens", size(toks))
        .withColumn("q", qualityScore)
        .filter(col("q") >= 0.5 && col("n_tokens") >= 10)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_curated"),
          sum(col("n_tokens")).cast("long").as("total_tokens"),
          sum(col("q").cast("decimal(18,6)")).cast("double").as("quality_mass"))
    }),

    // Document chunking: overlapping CHUNK_W-token windows at stride
    // CHUNK_STRIDE — the step that turns curated documents into
    // fixed-context training samples (overlap preserves cross-boundary
    // context). Pure per-row generate+slice: the generator multiplies
    // rows ~n_tokens/stride-fold but touches no other row, so the op
    // scan-scales.
    "text_chunk_windows" -> ((s, d) => chunkRel(s, d)),

    // Chunk-level dedup over the same relation: fingerprints repeated
    // across documents (train/eval contamination happens at CHUNK
    // granularity — whole-doc dedup misses a copied passage inside an
    // otherwise-novel document). Hash-groupBy on the 16-byte chunk_fp:
    // the chunk TEXT never shuffles, only fingerprints — the exact-dedup
    // scale argument, one level finer.
    "text_chunk_dedup" -> ((s, d) => {
      chunkRel(s, d)
        .groupBy("chunk_fp")
        .agg(count(lit(1)).as("n_copies"),
          countDistinct("doc_id").as("n_docs"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .filter(col("n_copies") > 1)
    }),

    // Memorization audit: the most-repeated 8-gram sequences across the
    // corpus, with how many distinct documents they appear in — stride-1
    // n-grams catch the boilerplate/licence-header/repeated-passage
    // content a model memorizes verbatim (chunk dedup at stride 48
    // cannot see phrases that straddle chunk boundaries). The generator
    // multiplies rows ×n_tokens, but each shuffled row is only
    // (8-gram string, doc_id) — the document text itself never
    // shuffles — and the report is a bounded TakeOrdered top-20.
    "text_ngram_hotspots" -> ((s, d) => {
      val NG = 8
      val starts = sequence(lit(0), size(col("t")) - NG, lit(1))
      docsPar(s, d)
        .select(col("doc_id"), toks.as("t"))
        .filter(size(col("t")) >= NG)
        .select(col("doc_id"), col("t"), explode(starts).as("st"))
        .select(col("doc_id"),
          concat_ws(" ", slice(col("t"), col("st") + 1, lit(NG))).as("ngram"))
        .groupBy("ngram")
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct("doc_id").as("n_docs"))
        .filter(col("n_docs") > 1)
        .orderBy(col("n_occurrences").desc, col("ngram"))
        .limit(20)
    }),

    // Zipf rank-frequency spectrum in OCTAVE bands — the corpus-
    // naturalness screen: natural language obeys Zipf's law, so the
    // number of word types with frequency in [2^k, 2^{k+1}) should
    // decay geometrically in k; template spam, synthetic text, or a
    // truncated crawl bend the curve. The band is length(bin(n)) =
    // floor(log2 n)+1 — an INTEGER log both engines compute identically
    // (no libm, no float log2 whose ulp could flip a floor at 2^k).
    // Shape: one token explode → mergeable per-term hash count →
    // O(vocab) rows into ≤64 band groups; the share denominator is a
    // broadcast 1-row aggregate, never a partitionless window.
    "text_zipf_spectrum" -> ((s, d) => {
      val tc = termCounts(s, d)
      val tot = tc.agg(sum("n").cast("long").as("tot"))
      tc.withColumn("band", length(bin(col("n"))).cast("int"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_types"), sum("n").as("n_occurrences"))
        .crossJoin(broadcast(tot))
        .select(col("band"), col("n_types"), col("n_occurrences"),
          (col("n_occurrences").cast("double") / col("tot").cast("double"))
            .as("occ_share"))
    }),

    // Unigram-LM surprise (perplexity-proxy quality screen): the CCNet/
    // RedPajama-style LM quality filter, with the log kept EXACT by
    // working in integer octaves — surprise(tok) ≈ −log2 p(tok) =
    // log2(N/n(tok)), approximated as bitlen(N) − bitlen(n(tok))
    // (within ±1 bit; granularity documented, determinism bought).
    // Per source: exact Σ surprise over token occurrences and the
    // bits-per-token mean — sources full of rare/garbled tokens score
    // high, boilerplate-heavy sources score low. Shape: the posting
    // pre-aggregates to (source, tok, count) before the vocab join, so
    // the join input is |source × vocab|, not token occurrences; the
    // corpus-size bit length is a broadcast 1-row aggregate.
    "text_unigram_surprise" -> ((s, d) => {
      val tc = termCounts(s, d)
      val nb = tc.agg(sum("n").cast("long").as("tot"))
        .select(length(bin(col("tot"))).cast("int").as("corpus_bits"))
      docsPar(s, d)
        .select(col("source"), explode(toks).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("n_st"))
        .join(tc, Seq("tok"))
        .crossJoin(broadcast(nb))
        .groupBy("source")
        .agg(sum("n_st").as("n_tokens"),
          sum(col("n_st") *
            (col("corpus_bits") - length(bin(col("n"))).cast("int")))
            .as("sum_bits"))
        .select(col("source"), col("n_tokens"), col("sum_bits"),
          (col("sum_bits").cast("double") / col("n_tokens").cast("double"))
            .as("bits_per_token"))
    }),

    // Duplicated-substring token coverage — the headline number of
    // suffix-array corpus dedup (Lee et al. 2021, "Deduplicating
    // Training Data Makes Language Models Better": ~13.6% of C4's
    // tokens sit inside substrings repeated elsewhere): per source, the
    // fraction of tokens covered by at least one stride-1 8-gram that
    // occurs MORE THAN ONCE corpus-wide. hotspots ranks the worst
    // offenders; this prices the total memorization exposure and is the
    // before/after metric an ExactSubstr-style dedup pass would move.
    // Shape: the posting carries only (doc_id, source, start, 16-byte
    // md5 fp) — document text never shuffles; the dup-fp set comes from
    // one fp-hash count and rejoins the posting fp-co-partitioned;
    // interval union is the equal-width special case of gaps-and-
    // islands (covered = Σ min(next_start − start, 8), + 8 for the last
    // dup position) — ONE doc_id-partitioned window pass, all integer
    // arithmetic. At 100 TB the persisted posting would be a parquet
    // materialization instead of a cache; every pass over it is
    // hash-partitioned on fp or doc_id, never a global sort.
    "text_dup_ngram_coverage" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val NG = 8
      val starts = sequence(lit(0), size(col("t")) - NG, lit(1))
      val base = docsPar(s, d).select(col("doc_id"), col("source"), toks.as("t"))
      val tot = base.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("t")).cast("long")).as("n_tokens"))
      val pos = base
        .filter(size(col("t")) >= NG)
        .select(col("doc_id"), col("source"), explode(starts).as("st"),
          col("t"))
        .select(col("doc_id"), col("source"), col("st"),
          md5(concat_ws(" ", slice(col("t"), col("st") + 1, lit(NG))))
            .as("fp"))
        .transform(graft.CachePool.persist) // occurrence count + dup join
      val dupFp = pos.groupBy("fp").agg(count(lit(1)).as("n_occ"))
        .filter(col("n_occ") > 1).select("fp")
      val w = Window.partitionBy("doc_id").orderBy("st")
      val cov = pos.join(dupFp, Seq("fp"))
        .select(col("doc_id"), col("source"), col("st"),
          lead("st", 1).over(w).as("nxt"))
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(when(col("nxt").isNull, lit(NG.toLong))
          .otherwise(least(col("nxt") - col("st"), lit(NG)).cast("long")))
          .as("covered"))
      cov.groupBy("source").agg(
        sum("covered").as("cov_sum"), count(lit(1)).as("dup_docs"))
        .join(tot, Seq("source"), "right")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          coalesce(col("cov_sum"), lit(0L)).as("covered_tokens"),
          coalesce(col("dup_docs"), lit(0L)).as("n_dup_docs"),
          (coalesce(col("cov_sum"), lit(0L)).cast("double") /
            col("n_tokens").cast("double")).as("coverage"))
    }),

    // Document fingerprinting: exact md5 + min-hash over 4-gram word
    // windows (rolling-window content fingerprint, shift-robust).
    "text_fingerprint" -> ((s, d) => {
      val w = toks
      val grams = transform(sequence(lit(0), size(w) - lit(4)),
        i => concat_ws(" ", w(i), w(i + lit(1)), w(i + lit(2)), w(i + lit(3))))
      docsPar(s, d)
        .filter(size(w) >= 4)
        .select(col("doc_id"),
          md5(col("text")).as("fp_md5"),
          array_min(transform(grams, g => md5(g))).as("fp_shingle"))
    }),

    // Boilerplate screen — the C4/RefinedWeb curation step that finds
    // TEMPLATE text (headers, footers, nav chrome) as n-grams repeated
    // across a large FRACTION of a source's documents, as opposed to
    // dup_ngram_coverage's any-duplication view. An 8-gram is boiler-
    // plate when it occurs in ≥ max(2, n_docs/5) distinct docs of its
    // source — all integer compares (df·5 ≥ n_docs avoids float ceil),
    // so the flag is engine-exact. Reuses the IDENTICAL persisted
    // (doc,source,pos,fp) posting dup_ngram_coverage pins (same
    // analyzed plan → one evaluation when the family runs together);
    // on top of it: one (source,fp) hash agg with a distinct-doc
    // count, a broadcast of the O(sources) totals, and an O(sources)
    // report. 100 TB: the posting is the dominant cost and is already
    // paid once for the family; nothing else touches the corpus.
    "text_boilerplate_ngrams" -> ((s, d) => {
      val NG = 8
      val starts = sequence(lit(0), size(col("t")) - NG, lit(1))
      val base = docsPar(s, d).select(col("doc_id"), col("source"), toks.as("t"))
      val tot = base.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val pos = base
        .filter(size(col("t")) >= NG)
        .select(col("doc_id"), col("source"), explode(starts).as("st"),
          col("t"))
        .select(col("doc_id"), col("source"), col("st"),
          md5(concat_ws(" ", slice(col("t"), col("st") + 1, lit(NG))))
            .as("fp"))
        .transform(graft.CachePool.persist) // shared with dup_ngram_coverage
      val perFp = pos.groupBy("source", "fp")
        .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("df"))
      perFp.join(broadcast(tot), "source")
        .withColumn("boiler", col("df") >= 2 && col("df") * 5 >= col("n_docs"))
        .groupBy("source")
        .agg(min("n_docs").as("n_docs"),
          sum("n_occ").as("gram_occurrences"),
          count(lit(1)).as("distinct_grams"),
          sum(when(col("boiler"), 1L).otherwise(0L)).as("boiler_grams"),
          sum(when(col("boiler"), col("n_occ")).otherwise(0L))
            .as("boiler_occurrences"))
        .withColumn("boiler_share",
          col("boiler_occurrences").cast("double") /
            col("gram_occurrences").cast("double"))
    }),

    // DSIR-style domain-targeted data selection (Xie et al. 2023,
    // "Data Selection for Language Models via Importance Resampling"):
    // rank out-of-domain documents by how much a bag-of-unigrams model
    // of the TARGET domain (src0 as the declared in-domain proxy)
    // prefers them over the raw-corpus model — the published recipe
    // for "find me more data that looks like my eval set" at corpus
    // scale. log-likelihood ratios are INTEGER log2 via the
    // length(bin(n)) trick (the text_unigram_surprise convention):
    // per-occurrence score = bits(n_target+1) − bits(n_corpus+1)
    // (+1 = Laplace smoothing so unseen-in-target tokens contribute
    // the floor, not −∞), plus the per-token normalizer
    // bits(N_corpus) − bits(N_target) folded in once per doc — exact
    // in both engines, no libm. Shapes: both unigram tables are
    // O(vocab) broadcasts (termCounts is the family's shared cache);
    // the occurrence relation never shuffles before the per-doc
    // partial agg; the report is a global top-50 TakeOrdered. 100 TB:
    // identical plan, with the posting as the one pass over text.
    "text_dsir_select" -> ((s, d) => {
      val tc = termCounts(s, d)
      val target = docsPar(s, d).filter(col("source") === "src0")
        .select(explode(toks).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n_t"))
      val totals = tc.agg(sum("n").cast("long").as("nr"))
        .crossJoin(broadcast(target.agg(sum("n_t").cast("long").as("nt"))))
        .select(length(bin(col("nr"))).cast("int").as("bits_nr"),
          length(bin(col("nt"))).cast("int").as("bits_nt"))
      val occ = docsPar(s, d).filter(col("source") =!= "src0")
        .select(col("doc_id"), col("source"), explode(toks).as("tok"))
      occ
        .join(broadcast(tc), Seq("tok"))
        .join(broadcast(target), Seq("tok"), "left")
        .select(col("doc_id"), col("source"),
          (length(bin(coalesce(col("n_t"), lit(0L)) + 1)).cast("int") -
            length(bin(col("n") + 1)).cast("int")).as("db"))
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_tokens"), sum("db").as("tok_bits"))
        .crossJoin(broadcast(totals))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          (col("tok_bits") +
            col("n_tokens") * (col("bits_nr") - col("bits_nt")))
            .as("score_bits"))
        .orderBy(col("score_bits").desc, col("doc_id"))
        .limit(50)
    }),

    // Tokenizer fertility per source — the "how many model tokens does
    // a byte of this source cost" planning number every pretraining
    // mixture budget needs (fertility = subword/word ratio; bytes per
    // subword = compression the tokenizer achieves). Both tokenizers
    // are the repo's standing conventions (whitespace + TOKEN_RE), the
    // totals are exact integers from ONE map-side hash agg over
    // O(sources) groups, and the two ratios are single IEEE divisions
    // mirrored verbatim. 100 TB: per-row token counting is embarrassingly
    // parallel; the aggregate state is 4 longs × sources.
    "text_token_fertility" -> ((s, d) => {
      docsPar(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(toks).cast("long")).as("ws_tokens"),
          sum(size(regexp_extract_all(col("text"), lit(TOKEN_RE), lit(0)))
            .cast("long")).as("re_tokens"),
          sum(length(col("text")).cast("long")).as("n_chars"))
        .withColumn("fertility",
          col("re_tokens").cast("double") / col("ws_tokens").cast("double"))
        .withColumn("chars_per_token",
          col("n_chars").cast("double") / col("re_tokens").cast("double"))
    })
  )

  /** The [[bpeMerges]] rounds replayed as unrolled CTE stages — the
    * same pair count, top-1 tie order, gaps-and-islands parity rewrite,
    * and dense re-rank per round. MATERIALIZED is load-bearing on every
    * CTE consumed twice (the stream feeds the pair count AND the
    * rewrite; default inlining would re-expand the chain 2^rounds — the
    * graph-search-oracle gotcha).
    */
  /** The per-round CTE chain, generalized to (source docs CTE/table,
    * name prefix, pair source): `trainPfx = None` emits its OWN winner
    * CTE `${p}t$r` per round (the trainer); `Some(tp)` consumes the
    * already-trained `${tp}t$r` pairs instead (the held-out APPLY pass
    * — no counting, no peeking). Emits ${p}s0..${p}s$BPE_ROUNDS.
    */
  private def bpeChainSql(src: String, p: String,
                          trainPfx: Option[String]): String = {
    val sb = new StringBuilder(
      s"""${p}s0 AS MATERIALIZED (SELECT doc_id,
         |    CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INT) AS pos,
         |    unnest(string_split(text, ' ')) AS tok
         |  FROM $src)""".stripMargin)
    for (r <- 1 to BPE_ROUNDS) {
      val tp = trainPfx.getOrElse(p)
      sb.append(s""",
        |${p}p$r AS MATERIALIZED (SELECT doc_id, pos, tok,
        |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        |  FROM ${p}s${r - 1})""".stripMargin)
      if (trainPfx.isEmpty) sb.append(s""",
        |${p}t$r AS MATERIALIZED (SELECT tok AS w1, nxt AS w2,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM ${p}p$r WHERE nxt IS NOT NULL
        |  GROUP BY 1, 2 ORDER BY n DESC, w1, w2 LIMIT 1)""".stripMargin)
      sb.append(s""",
        |${p}m$r AS (SELECT ${p}p$r.doc_id, ${p}p$r.pos FROM ${p}p$r, ${tp}t$r
        |  WHERE tok = w1 AND nxt = w2),
        |${p}k$r AS MATERIALIZED (SELECT doc_id, pos FROM (
        |  SELECT doc_id, pos, row_number() OVER (PARTITION BY doc_id, isl
        |      ORDER BY pos) AS krn
        |  FROM (SELECT doc_id, pos,
        |      pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |    FROM ${p}m$r) i) t WHERE krn % 2 = 1),
        |${p}s$r AS MATERIALIZED (SELECT doc_id,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY opos) - 1
        |      AS INT) AS pos, tok
        |  FROM (
        |    SELECT u.doc_id, u.pos AS opos, u.tok FROM ${p}s${r - 1} u
        |      LEFT JOIN ${p}k$r k1 ON u.doc_id = k1.doc_id AND u.pos = k1.pos
        |      LEFT JOIN ${p}k$r k2 ON u.doc_id = k2.doc_id AND u.pos = k2.pos + 1
        |    WHERE k1.pos IS NULL AND k2.pos IS NULL
        |    UNION ALL
        |    SELECT k.doc_id, k.pos AS opos,
        |      (SELECT w1 || ' ' || w2 FROM ${tp}t$r) AS tok FROM ${p}k$r k) z)""".stripMargin)
    }
    sb.toString
  }

  private lazy val bpeMergesSql: String = {
    val sb = new StringBuilder(
      s"""WITH ${bpeChainSql("documents", "", None)},
         |n0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s0)""".stripMargin)
    for (r <- 1 to BPE_ROUNDS) {
      sb.append(s""",
        |r$r AS (SELECT $r AS rnd, w1, w2, n AS n_pair,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s$r) AS n_tokens_after
        |  FROM t$r)""".stripMargin)
    }
    val unions = (1 to BPE_ROUNDS).map(r => s"SELECT * FROM r$r")
      .mkString("\n  UNION ALL ")
    sb.append(s"""
      |SELECT CAST(rnd AS INT) AS merge_round, w1, w2, n_pair,
      |  n_tokens_after,
      |  CAST(n_tokens_after AS DOUBLE)
      |    / CAST((SELECT n FROM n0) AS DOUBLE) AS compression_ratio
      |FROM ($unions)""".stripMargin)
    sb.toString
  }

  /** Held-out oracle: the trainer chain over the train split, the
    * apply chain over the held-out split consuming the trained pairs,
    * and the per-round compression pair mirrored from both chains'
    * exact counts.
    */
  private lazy val bpeHeldoutSql: String = {
    val sb = new StringBuilder(
      s"""WITH tdocs AS (SELECT doc_id, text FROM documents
         |  WHERE substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'),
         |hdocs AS (SELECT doc_id, text FROM documents
         |  WHERE substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4) >= 'e666'),
         |${bpeChainSql("tdocs", "t", None)},
         |${bpeChainSql("hdocs", "h", Some("t"))},
         |tn0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ts0),
         |hn0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM hs0)""".stripMargin)
    for (r <- 1 to BPE_ROUNDS) {
      sb.append(s""",
        |hr$r AS (SELECT $r AS rnd, w1, w2,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ts$r) AS tn_after,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM hs$r) AS hn_after
        |  FROM tt$r)""".stripMargin)
    }
    val unions = (1 to BPE_ROUNDS).map(r => s"SELECT * FROM hr$r")
      .mkString("\n  UNION ALL ")
    sb.append(s"""
      |SELECT CAST(rnd AS INT) AS merge_round, w1, w2,
      |  CAST(tn_after AS DOUBLE)
      |    / CAST((SELECT n FROM tn0) AS DOUBLE) AS train_compression,
      |  hn_after AS n_tokens_after,
      |  CASE WHEN (SELECT n FROM hn0) = 0 THEN NULL
      |    ELSE CAST(hn_after AS DOUBLE)
      |      / CAST((SELECT n FROM hn0) AS DOUBLE) END AS heldout_compression
      |FROM ($unions)""".stripMargin)
    sb.toString
  }

  val oracles: Map[String, String] = Map(
    "text_ngram_hotspots" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |st AS (SELECT doc_id, t, unnest(generate_series(0, len(t) - 8, 1)) AS s
        |  FROM tk WHERE len(t) >= 8),
        |ng AS (SELECT doc_id, array_to_string(t[s + 1 : s + 8], ' ') AS ngram FROM st)
        |SELECT ngram, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
        |FROM ng GROUP BY ngram HAVING COUNT(DISTINCT doc_id) > 1
        |ORDER BY n_occurrences DESC, ngram LIMIT 20""".stripMargin,
    "text_zipf_spectrum" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, COUNT(*) AS n FROM t GROUP BY tok),
        |b AS (SELECT CAST(length(bin(n)) AS INT) AS band,
        |    COUNT(*) AS n_types, CAST(SUM(n) AS BIGINT) AS n_occurrences
        |  FROM c GROUP BY 1)
        |SELECT band, n_types, n_occurrences,
        |  CAST(n_occurrences AS DOUBLE) /
        |    CAST((SELECT CAST(SUM(n) AS BIGINT) FROM c) AS DOUBLE)
        |    AS occ_share
        |FROM b""".stripMargin,
    "text_unigram_surprise" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, COUNT(*) AS n FROM t GROUP BY tok),
        |nb AS (SELECT CAST(length(bin(CAST(SUM(n) AS BIGINT))) AS INT)
        |    AS corpus_bits FROM c),
        |st AS (SELECT source, tok, COUNT(*) AS n_st FROM t GROUP BY 1, 2)
        |SELECT source, CAST(SUM(n_st) AS BIGINT) AS n_tokens,
        |  CAST(SUM(n_st * (corpus_bits - CAST(length(bin(c.n)) AS INT)))
        |    AS BIGINT) AS sum_bits,
        |  CAST(SUM(n_st * (corpus_bits - CAST(length(bin(c.n)) AS INT)))
        |    AS DOUBLE) / CAST(SUM(n_st) AS DOUBLE) AS bits_per_token
        |FROM st JOIN c USING (tok) CROSS JOIN nb
        |GROUP BY source""".stripMargin,
    "text_dup_ngram_coverage" ->
      """WITH tk AS (SELECT doc_id, source, string_split(text, ' ') AS t
        |  FROM documents),
        |tot AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(t)) AS BIGINT) AS n_tokens
        |  FROM tk GROUP BY source),
        |st AS (SELECT doc_id, source, t,
        |    unnest(generate_series(0, len(t) - 8, 1)) AS s
        |  FROM tk WHERE len(t) >= 8),
        |ng AS (SELECT doc_id, source, s,
        |    md5(array_to_string(t[s + 1 : s + 8], ' ')) AS fp
        |  FROM st),
        |dup AS (SELECT fp FROM ng GROUP BY fp HAVING COUNT(*) > 1),
        |pos AS (SELECT doc_id, source, s,
        |    LEAD(s) OVER (PARTITION BY doc_id ORDER BY s) AS nxt
        |  FROM ng JOIN dup USING (fp)),
        |cov AS (SELECT doc_id, source,
        |    CAST(SUM(CASE WHEN nxt IS NULL THEN 8
        |                  ELSE LEAST(nxt - s, 8) END) AS BIGINT) AS covered
        |  FROM pos GROUP BY doc_id, source),
        |agg AS (SELECT source, CAST(SUM(covered) AS BIGINT) AS cov_sum,
        |    COUNT(*) AS dup_docs
        |  FROM cov GROUP BY source)
        |SELECT tot.source, n_docs, n_tokens,
        |  COALESCE(cov_sum, 0) AS covered_tokens,
        |  COALESCE(dup_docs, 0) AS n_dup_docs,
        |  CAST(COALESCE(cov_sum, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |    AS coverage
        |FROM tot LEFT JOIN agg ON tot.source = agg.source""".stripMargin,
    "text_chunk_windows" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |st AS (SELECT doc_id, t,
         |    unnest(generate_series(0, len(t) - 1, $CHUNK_STRIDE)) AS chunk_start
         |  FROM tk)
         |SELECT doc_id,
         |  CAST(chunk_start // $CHUNK_STRIDE AS INT) AS chunk_idx,
         |  CAST(chunk_start AS BIGINT) AS chunk_start,
         |  CAST(len(t[chunk_start + 1 : chunk_start + $CHUNK_W]) AS BIGINT) AS n_chunk_tokens,
         |  md5(array_to_string(t[chunk_start + 1 : chunk_start + $CHUNK_W], ' ')) AS chunk_fp
         |FROM st""".stripMargin,
    "text_chunk_dedup" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |st AS (SELECT doc_id, t,
         |    unnest(generate_series(0, len(t) - 1, $CHUNK_STRIDE)) AS chunk_start
         |  FROM tk),
         |ch AS (SELECT doc_id,
         |    md5(array_to_string(t[chunk_start + 1 : chunk_start + $CHUNK_W], ' ')) AS chunk_fp
         |  FROM st)
         |SELECT chunk_fp, COUNT(*) AS n_copies,
         |  COUNT(DISTINCT doc_id) AS n_docs,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM ch GROUP BY chunk_fp HAVING COUNT(*) > 1""".stripMargin,
    "text_sample_hash" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 4) < '1999'
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        |FROM documents GROUP BY lang""".stripMargin,
    "text_integrity_audit" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
        |  CAST(SUM(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_text,
        |  CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_len_mismatch,
        |  COUNT(*) - COUNT(DISTINCT doc_id) AS n_dup_ids
        |FROM documents""".stripMargin,
    "text_source_mix" ->
      """WITH t AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source)
        |SELECT source, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE)
        |    / CAST((SELECT SUM(n_tokens) FROM t) AS BIGINT) AS token_share
        |FROM t""".stripMargin,
    "text_source_sample" ->
      """WITH dt AS (SELECT doc_id, source, len(string_split(text, ' ')) AS nt
        |  FROM documents),
        |bysrc AS (SELECT source, CAST(SUM(nt) AS BIGINT) AS src_tokens
        |  FROM dt GROUP BY source),
        |rated AS (SELECT source,
        |    CAST((SELECT MIN(src_tokens) FROM bysrc) AS DOUBLE) / src_tokens AS rate
        |  FROM bysrc),
        |k AS (SELECT dt.source, nt,
        |    CASE WHEN CAST(('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT AS DOUBLE)
        |           < rate * 65536.0 THEN 1 ELSE 0 END AS kept
        |  FROM dt JOIN rated ON dt.source = rated.source)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(kept) AS BIGINT) AS n_kept,
        |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
        |  CAST(SUM(kept * nt) AS BIGINT) AS kept_tokens
        |FROM k GROUP BY source""".stripMargin,
    "text_repetition" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |pw AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c) AS dup_word_ratio,
        |  CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_word_frac
        |FROM pw GROUP BY doc_id""".stripMargin,
    "text_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id, doc_id % $PACK_SHARDS AS shard,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |        ROWS UNBOUNDED PRECEDING) AS cum FROM t)
         |SELECT shard, CAST((cum - n_tokens) // $PACK_CTX AS BIGINT) AS bin, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM c GROUP BY 1, 2""".stripMargin,
    // `//` on strictly-positive totals only (truncation == floor
    // there); SUM(BIGINT) is HUGEINT in DuckDB — every cell re-cast.
    "text_pack_waste" ->
      s"""WITH t AS (
         |  SELECT doc_id, doc_id % $PACK_SHARDS AS shard,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |n AS (SELECT COUNT(*) AS n_windows,
         |    CAST(SUM(CASE WHEN n_tokens < $PACK_CTX
         |      THEN $PACK_CTX - n_tokens ELSE 0 END) AS BIGINT) AS padded_tokens,
         |    CAST(SUM(CASE WHEN n_tokens > $PACK_CTX
         |      THEN n_tokens - $PACK_CTX ELSE 0 END) AS BIGINT) AS truncated_tokens,
         |    CAST(SUM(LEAST(n_tokens, $PACK_CTX)) AS BIGINT) AS trained_tokens
         |  FROM t),
         |p0 AS (SELECT shard, CAST(SUM(n_tokens) AS BIGINT) AS tok
         |  FROM t GROUP BY 1),
         |p AS (SELECT
         |    CAST(SUM((tok + ${PACK_CTX - 1}) // $PACK_CTX) AS BIGINT) AS n_windows,
         |    CAST(SUM(((tok + ${PACK_CTX - 1}) // $PACK_CTX) * $PACK_CTX - tok)
         |      AS BIGINT) AS padded_tokens,
         |    CAST(0 AS BIGINT) AS truncated_tokens,
         |    CAST(SUM(tok) AS BIGINT) AS trained_tokens
         |  FROM p0)
         |SELECT 'one_doc_per_window' AS strategy, n_windows, padded_tokens,
         |  truncated_tokens, trained_tokens,
         |  CAST(trained_tokens AS DOUBLE) /
         |    CAST(n_windows * $PACK_CTX AS DOUBLE) AS efficiency
         |FROM n
         |UNION ALL
         |SELECT 'concat_chunk_packed' AS strategy, n_windows, padded_tokens,
         |  truncated_tokens, trained_tokens,
         |  CAST(trained_tokens AS DOUBLE) /
         |    CAST(n_windows * $PACK_CTX AS DOUBLE) AS efficiency
         |FROM p""".stripMargin,
    "text_train_split" ->
      """WITH t AS (
        |  SELECT lang,
        |    CASE WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
        |         WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4) < 'f333' THEN 'val'
        |         ELSE 'test' END AS split,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT lang, split, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        |FROM t GROUP BY lang, split""".stripMargin,
    "text_curation_pipeline" ->
      s"""WITH canon AS (
         |  SELECT *, row_number() OVER (PARTITION BY md5(lower(trim(text)))
         |                               ORDER BY doc_id) AS rn
         |  FROM documents),
         |scored AS (
         |  SELECT lang, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         |    ${qualityScoreSql.replace("\n", " ")} AS q
         |  FROM canon WHERE rn = 1)
         |SELECT lang, COUNT(*) AS n_curated,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) AS quality_mass
         |FROM scored WHERE q >= 0.5 AND n_tokens >= 10
         |GROUP BY lang""".stripMargin,
    "text_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens_ws,
         |  CAST(len(regexp_extract_all(text, '$TOKEN_RE')) AS INT) AS n_tokens_re,
         |  CAST(length(text) AS INT) AS n_chars_m
         |FROM documents""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |    / len(string_split(text, ' ')) AS distinct_ratio,
         |  CAST(${hitsSql(STOPWORDS)} AS DOUBLE)
         |    / len(string_split(text, ' ')) AS stopword_ratio,
         |  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
         |    / len(string_split(text, ' ')) AS avg_token_len,
         |  $qualityScoreSql AS quality_score
         |FROM documents""".stripMargin,
    "text_langid" -> {
      val hs = MARKERS.map { case (l, ms) => s"${hitsSql(ms)} AS h_$l" }.mkString(", ")
      val m = MARKERS.map { case (l, _) => s"h_$l" }.mkString("GREATEST(", ", ", ")")
      val cases = MARKERS.map { case (l, _) => s"WHEN h_$l = $m THEN '$l'" }.mkString(" ")
      s"""WITH h AS (SELECT lang, $hs FROM documents)
         |SELECT lang, CASE $cases END AS predicted, COUNT(*) AS n
         |FROM h GROUP BY 1, 2""".stripMargin
    },
    "text_langid_ngram" -> {
      val bg = "list_distinct(list_transform(range(1, length(text)), i -> substr(text, i, 2)))"
      val hs = NGRAM_PROFILES.map { case (l, prof) =>
        val inList = prof.map(p => s"'$p'").mkString(", ")
        s"len(list_filter($bg, g -> g IN ($inList))) AS h_$l"
      }.mkString(", ")
      val m = NGRAM_PROFILES.map { case (l, _) => s"h_$l" }.mkString("GREATEST(", ", ", ")")
      val cases = NGRAM_PROFILES.map { case (l, _) => s"WHEN h_$l = $m THEN '$l'" }.mkString(" ")
      s"""WITH h AS (SELECT lang, $hs FROM documents)
         |SELECT lang, CASE $cases END AS predicted, COUNT(*) AS n
         |FROM h GROUP BY 1, 2""".stripMargin
    },
    "text_quality_length_bias" ->
      s"""WITH g AS (SELECT source, n_chars AS x,
         |    CAST(FLOOR(($qualityScoreSql) * 1073741824.0 + 0.5) AS BIGINT) AS y
         |  FROM documents),
         |s AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n,
         |    CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
         |    CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
         |    CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy,
         |    CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
         |    CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy
         |  FROM g GROUP BY source)
         |SELECT source, CAST(n AS BIGINT) AS n_docs,
         |  CASE WHEN n * sxx - sx * sx = 0.0 OR n * syy - sy * sy = 0.0
         |    THEN NULL
         |    ELSE (n * sxy - sx * sy) /
         |      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) END
         |    AS corr_len_quality
         |FROM s""".stripMargin,

    "search_keyword_topk" ->
      s"""WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM documents) t
         |  WHERE term IN (${SEARCH_TOKS.map(q => s"'$q'").mkString(", ")})
         |  GROUP BY 1, 2),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents)
         |SELECT doc_id,
         |  CAST(SUM(tf * (n_docs // df)) AS BIGINT) AS score,
         |  COUNT(*) AS n_terms_hit
         |FROM tf JOIN dfreq USING (term), n
         |GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    // Mirrors the Spark expression tree operation-for-operation;
    // list(s ORDER BY term) + list_reduce is the same sorted-order
    // fold as array_sort + aggregate (the 0.0 seed is IEEE-neutral).
    "search_bm25_topk" ->
      s"""WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM documents) t
         |  WHERE term IN (${SEARCH_TOKS.map(q => s"'$q'").mkString(", ")})
         |  GROUP BY 1, 2),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_docs,
         |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
         |  FROM documents),
         |dl AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
         |  FROM documents),
         |sc AS (SELECT doc_id, term, dl,
         |    CAST(n_docs // df AS DOUBLE) * (CAST(tf AS DOUBLE) * 2.2) /
         |      (CAST(tf AS DOUBLE) + 1.2 * (0.25 +
         |        0.75 * CAST(dl AS DOUBLE) /
         |          (CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE))))
         |      AS s
         |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), n)
         |SELECT doc_id,
         |  list_reduce(list(s ORDER BY term), (x, y) -> x + y) AS score,
         |  COUNT(*) AS n_terms_hit, MAX(dl) AS dl
         |FROM sc GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "search_phrase_match" ->
      s"""SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN contains(text, '$SEARCH_PHRASE') THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_match,
         |  CAST(SUM((length(text) - length(replace(text, '$SEARCH_PHRASE', '')))
         |    // ${SEARCH_PHRASE.length}) AS BIGINT) AS n_occurrences,
         |  CAST(SUM(CASE WHEN contains(text, '$SEARCH_PHRASE') THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS match_share
         |FROM documents GROUP BY source""".stripMargin,

    // Same positional-adjacency algorithm over a 1-based posting list
    // (generate_subscripts ↔ posexplode+1).
    "search_positional_phrase" -> {
      val ph = SEARCH_PHRASE.split(" ")
      s"""WITH post AS (SELECT doc_id,
         |    generate_subscripts(string_split(text, ' '), 1) AS pos,
         |    unnest(string_split(text, ' ')) AS term FROM documents),
         |p0 AS (SELECT doc_id, pos FROM post WHERE term = '${ph(0)}'),
         |p1 AS (SELECT doc_id, pos FROM post WHERE term = '${ph(1)}')
         |SELECT p0.doc_id, COUNT(*) AS n_occurrences,
         |  CAST(MIN(p0.pos) AS BIGINT) AS first_pos
         |FROM p0 JOIN p1 ON p0.doc_id = p1.doc_id AND p0.pos + 1 = p1.pos
         |GROUP BY 1 ORDER BY n_occurrences DESC, p0.doc_id LIMIT 10""".stripMargin
    },

    // First-seen-decile census; // == div on the non-negative ids, and
    // the cumulative frames agree because b is distinct per row.
    "text_heaps_curve" ->
      """WITH dd AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |  FROM documents),
        |mx AS (SELECT MAX(doc_id) AS mx FROM documents),
        |db AS (SELECT (doc_id * 10) // (mx + 1) AS b, COUNT(*) AS nd,
        |    CAST(SUM(ntok) AS BIGINT) AS nt
        |  FROM dd, mx GROUP BY 1),
        |fs AS (SELECT term, MIN(doc_id) AS fd FROM (
        |    SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
        |      AS term FROM documents) t GROUP BY term),
        |tb AS (SELECT (fd * 10) // (mx + 1) AS b, COUNT(*) AS nv
        |  FROM fs, mx GROUP BY 1),
        |j AS (SELECT COALESCE(db.b, tb.b) AS b, COALESCE(nd, 0) AS nd,
        |    COALESCE(nt, 0) AS nt, COALESCE(nv, 0) AS nv
        |  FROM db FULL OUTER JOIN tb ON db.b = tb.b)
        |SELECT CAST(b + 1 AS INT) AS decile,
        |  CAST(SUM(nd) OVER (ORDER BY b) AS BIGINT) AS n_docs,
        |  CAST(SUM(nt) OVER (ORDER BY b) AS BIGINT) AS n_tokens,
        |  CAST(SUM(nv) OVER (ORDER BY b) AS BIGINT) AS vocab
        |FROM j ORDER BY decile""".stripMargin,

    // Identical delta algebra in DuckDB; list_slice/len// mirrors
    // slice/size-div (non-negative sizes, so // == div).
    "text_incremental_df" ->
      """WITH half AS (SELECT doc_id,
        |    list_distinct(list_slice(string_split(text, ' '), 1,
        |      len(string_split(text, ' ')) // 2)) AS terms
        |  FROM documents),
        |fullt AS (SELECT doc_id,
        |    list_distinct(string_split(text, ' ')) AS terms FROM documents),
        |base_df AS (SELECT term, COUNT(*) AS df_base FROM (
        |    SELECT unnest(terms) AS term FROM fullt WHERE doc_id % 10 <> 0) t
        |  GROUP BY term),
        |delta AS (SELECT term, SUM(d) AS d FROM (
        |    SELECT unnest(terms) AS term, 1 AS d FROM fullt WHERE doc_id % 10 = 0
        |    UNION ALL
        |    SELECT unnest(terms) AS term, 1 AS d FROM half
        |      WHERE doc_id % 10 <> 0 AND doc_id % 7 = 0
        |    UNION ALL
        |    SELECT unnest(terms) AS term, -1 AS d FROM fullt
        |      WHERE doc_id % 10 <> 0 AND doc_id % 7 = 0) u
        |  GROUP BY term),
        |ivm AS (SELECT term, df_ivm FROM (
        |    SELECT COALESCE(b.term, dl.term) AS term,
        |      COALESCE(df_base, 0) + COALESCE(d, 0) AS df_ivm
        |    FROM base_df b FULL OUTER JOIN delta dl ON b.term = dl.term) t
        |  WHERE df_ivm > 0),
        |full_df AS (SELECT term, COUNT(*) AS df_full FROM (
        |    SELECT unnest(terms) AS term FROM (
        |      SELECT CASE WHEN f.doc_id % 10 <> 0 AND f.doc_id % 7 = 0
        |          THEN h.terms ELSE f.terms END AS terms
        |      FROM fullt f JOIN half h ON f.doc_id = h.doc_id) c) t
        |  GROUP BY term)
        |SELECT COALESCE(i.term, f.term) AS term,
        |  CAST(COALESCE(df_ivm, 0) AS BIGINT) AS df_ivm,
        |  CAST(COALESCE(df_full, 0) AS BIGINT) AS df_full,
        |  COALESCE(df_ivm, 0) = COALESCE(df_full, 0) AS consistent
        |FROM ivm i FULL OUTER JOIN full_df f ON i.term = f.term
        |ORDER BY COALESCE(df_full, 0) DESC, term LIMIT 50""".stripMargin,

    "text_tfidf_cosine_pairs" ->
      s"""WITH terms AS (SELECT doc_id, term, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM documents) t GROUP BY 1, 2),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM terms GROUP BY 1),
         |w AS (SELECT doc_id, t.term,
         |    CAST(tf * ((SELECT COUNT(*) FROM documents) // df) AS BIGINT) AS w
         |  FROM terms t JOIN dfreq USING (term) WHERE df <= $TFIDF_DF_CAP),
         |norms AS (SELECT doc_id,
         |    CAST(SUM(CAST(w AS HUGEINT) * w) AS DECIMAL(38,0)) AS sumsq
         |  FROM w GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(SUM(CAST(a.w AS HUGEINT) * b.w) AS DECIMAL(38,0)) AS dot
         |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, CAST(dot AS BIGINT) AS dot,
         |  CAST(dot AS DOUBLE) / (sqrt(CAST(na.sumsq AS DOUBLE))
         |    * sqrt(CAST(nb.sumsq AS DOUBLE))) AS cosine
         |FROM pairs
         |JOIN norms na ON pairs.doc_a = na.doc_id
         |JOIN norms nb ON pairs.doc_b = nb.doc_id
         |ORDER BY cosine DESC, doc_a, doc_b LIMIT 20""".stripMargin,
    "text_tfidf" ->
      """WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM terms) t GROUP BY term),
        |scored AS (SELECT doc_id, tf.term,
        |    CAST(tf AS DOUBLE) * (CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS rn FROM scored)
        |SELECT doc_id, term, tfidf, CAST(rn AS INT) AS rn FROM ranked WHERE rn <= 3""".stripMargin,
    "text_vocab_top50" ->
      """SELECT term, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents) t
        |GROUP BY term ORDER BY n DESC, term LIMIT 50""".stripMargin,
    "text_vocab_coverage" ->
      s"""WITH posting AS (SELECT source,
         |    unnest(string_split(text, ' ')) AS term FROM documents),
         |top AS (SELECT term FROM (SELECT term, COUNT(*) AS n FROM posting
         |    GROUP BY term ORDER BY n DESC, term LIMIT $VOCAB_COVER_TOP) t)
         |SELECT source, COUNT(*) AS n_tokens,
         |  CAST(SUM(CASE WHEN top.term IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_covered,
         |  CAST(SUM(CASE WHEN top.term IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS coverage
         |FROM posting LEFT JOIN top ON posting.term = top.term
         |GROUP BY source""".stripMargin,
    "text_bpe_pairs" ->
      """SELECT w[i] AS w1, w[i + 1] AS w2, COUNT(*) AS n
        |FROM (SELECT string_split(text, ' ') AS w,
        |        unnest(range(1, len(string_split(text, ' ')))) AS i
        |      FROM documents WHERE len(string_split(text, ' ')) >= 2) t
        |GROUP BY 1, 2 ORDER BY n DESC, w1, w2 LIMIT 30""".stripMargin,
    "text_bpe_merges" -> bpeMergesSql,
    "text_bpe_heldout" -> bpeHeldoutSql,
    "text_mixture_weights" ->
      """WITH per AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM per),
        |ss AS (SELECT list_reduce(
        |    list(sqrt(CAST(n_tokens AS DOUBLE)) ORDER BY source),
        |    (x, y) -> x + y) AS s FROM per)
        |SELECT source, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST((SELECT t FROM tot) AS DOUBLE)
        |    AS nat_share,
        |  sqrt(CAST(n_tokens AS DOUBLE)) / (SELECT s FROM ss) AS temp_share,
        |  sqrt(CAST(n_tokens AS DOUBLE)) / (SELECT s FROM ss)
        |    * CAST((SELECT t FROM tot) AS DOUBLE)
        |    / CAST(n_tokens AS DOUBLE) AS effective_epochs
        |FROM per""".stripMargin,
    "text_repetition_ngrams" ->
      s"""WITH dk AS (SELECT doc_id, source, string_split(text, ' ') AS t
         |  FROM documents WHERE len(string_split(text, ' ')) >= 4),
         |bi AS (SELECT doc_id, source, len(t) - 1 AS n_bi,
         |    t[i] || '|' || t[i + 1] AS g
         |  FROM dk, unnest(range(1, len(t))) AS u(i)),
         |topbi AS (SELECT doc_id, source, n_bi, MAX(c) AS top_c FROM (
         |  SELECT doc_id, source, n_bi, g, COUNT(*) AS c
         |  FROM bi GROUP BY 1, 2, 3, 4) x GROUP BY 1, 2, 3),
         |tri AS (SELECT doc_id, len(t) - 2 AS n_tri,
         |    t[i] || '|' || t[i + 1] || '|' || t[i + 2] AS g
         |  FROM dk, unnest(range(1, len(t) - 1)) AS u(i)),
         |tristats AS (SELECT doc_id, MAX(n_tri) AS n_tri,
         |    COUNT(DISTINCT g) AS d_tri FROM tri GROUP BY 1),
         |per AS (SELECT tb.source,
         |    CAST(top_c AS DOUBLE) / n_bi AS tb,
         |    CAST(ts.n_tri - d_tri AS DOUBLE) / ts.n_tri AS dt
         |  FROM topbi tb JOIN tristats ts USING (doc_id))
         |SELECT source, COUNT(*) AS n_docs,
         |  COUNT(*) FILTER (WHERE tb > $REP_TOP_BIGRAM_T) AS n_bigram_flagged,
         |  COUNT(*) FILTER (WHERE dt > $REP_DUP_TRIGRAM_T) AS n_trigram_flagged,
         |  COUNT(*) FILTER (WHERE tb > $REP_TOP_BIGRAM_T
         |    OR dt > $REP_DUP_TRIGRAM_T) AS n_flagged,
         |  CAST(SUM(CAST(FLOOR(dt * 1073741824.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / (CAST(COUNT(*) AS DOUBLE) * 1073741824.0) AS mean_dup_trigram
         |FROM per GROUP BY source""".stripMargin,
    // Identical ratio expression shape (doubles before multiplying,
    // same parenthesization) — see the query comment for why the ratio
    // replaces log-PMI.
    "text_pmi_ratio" ->
      s"""WITH tok AS (SELECT string_split(text, ' ') AS w FROM documents
         |    WHERE len(string_split(text, ' ')) >= 2),
         |uni AS (SELECT w, COUNT(*) AS nw
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
         |  GROUP BY w),
         |total AS (SELECT CAST(SUM(nw) AS BIGINT) AS n_tokens FROM uni),
         |pairs AS (SELECT w[i] AS w1, w[i + 1] AS w2, COUNT(*) AS n_pair
         |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM tok) t
         |  GROUP BY 1, 2 HAVING COUNT(*) >= $PMI_MIN_PAIR)
         |SELECT w1, w2, n_pair,
         |  CAST(n_pair AS DOUBLE) * CAST(n_tokens AS DOUBLE) /
         |    (CAST(a.nw AS DOUBLE) * CAST(b.nw AS DOUBLE)) AS pmi_ratio
         |FROM pairs JOIN uni a ON pairs.w1 = a.w JOIN uni b ON pairs.w2 = b.w, total
         |ORDER BY pmi_ratio DESC, w1, w2 LIMIT 30""".stripMargin,
    // range(1, L-o+1) is 1..L-o, so w[i+o] reaches exactly w[L] — the
    // 1-based mirror of Spark's sequence(0, L-o-1) over 0-based toks.
    "text_skipgram_pairs" ->
      """SELECT o AS dist, w[i] AS w1, w[i + o] AS w2, COUNT(*) AS n
        |FROM (SELECT string_split(text, ' ') AS w, o,
        |        unnest(range(1, len(string_split(text, ' ')) - o + 1)) AS i
        |      FROM documents, (VALUES (1), (2)) t(o)
        |      WHERE len(string_split(text, ' ')) > o) t2
        |GROUP BY 1, 2, 3 ORDER BY n DESC, dist, w1, w2 LIMIT 40""".stripMargin,
    "text_quality_sample" -> {
      s"""WITH scored AS (SELECT doc_id, lang, $qualityScoreSql AS quality_score FROM documents),
         |ranked AS (SELECT *, percent_rank() OVER (PARTITION BY lang
         |    ORDER BY quality_score DESC, doc_id) AS pr FROM scored)
         |SELECT doc_id, lang, quality_score FROM ranked WHERE pr <= 0.2""".stripMargin
    },
    // Same priority formula: exact BIGINTs into two CASTs and one IEEE
    // division (BIGINT * BIGINT does not widen in DuckDB).
    "text_priority_sample" ->
      """WITH p AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    ('0x' || substr(md5('ps|' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT AS hv
        |  FROM documents)
        |SELECT doc_id, source, n_tokens,
        |  CAST(n_tokens * 65536 AS DOUBLE) / CAST(hv + 1 AS DOUBLE) AS priority
        |FROM p ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin,
    // Same distinct-score cumulative histogram; window SUMs widen to
    // HUGEINT and are cast back, `//` on BIGINT stays BIGINT.
    "text_quality_deciles" ->
      s"""WITH scored AS (SELECT $qualityScoreSql AS q,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents),
         |ps AS (SELECT q, COUNT(*) AS nd, CAST(SUM(nt) AS BIGINT) AS st
         |  FROM scored GROUP BY q),
         |c AS (SELECT q, nd, st,
         |    CAST(COALESCE(SUM(nd) OVER (ORDER BY q
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS cum_before,
         |    CAST(SUM(nd) OVER () AS BIGINT) AS n_total
         |  FROM ps),
         |dd AS (SELECT *, least(9, (cum_before * 10) // n_total) AS decile FROM c)
         |SELECT decile, CAST(SUM(nd) AS BIGINT) AS n_docs,
         |  CAST(SUM(st) AS BIGINT) AS sum_tokens,
         |  MIN(q) AS min_score, MAX(q) AS max_score
         |FROM dd GROUP BY decile""".stripMargin,

    // percent_rank = (rank − 1)/(n − 1) with ties sharing the rank —
    // exactly the histogram's cum_before/(n_src − 1), same operands,
    // same one double division.
    "text_quality_quantile_norm" ->
      s"""SELECT doc_id, source, q AS quality_score,
         |  percent_rank() OVER (PARTITION BY source ORDER BY q) AS q_norm
         |FROM (SELECT doc_id, source, $qualityScoreSql AS q
         |      FROM documents) t""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp_md5,
        |  list_aggregate(list_transform(
        |    list_transform(range(1, len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
        |        || ' ' || string_split(text, ' ')[i+2] || ' ' || string_split(text, ' ')[i+3]),
        |    g -> md5(g)), 'min') AS fp_shingle
        |FROM documents WHERE len(string_split(text, ' ')) >= 4""".stripMargin,

    "text_boilerplate_ngrams" ->
      """WITH tk AS (SELECT doc_id, source, string_split(text, ' ') AS t
        |  FROM documents),
        |tot AS (SELECT source, COUNT(*) AS n_docs FROM tk GROUP BY source),
        |st AS (SELECT doc_id, source, t,
        |    unnest(generate_series(0, len(t) - 8, 1)) AS s
        |  FROM tk WHERE len(t) >= 8),
        |ng AS (SELECT doc_id, source, s,
        |    md5(array_to_string(t[s + 1 : s + 8], ' ')) AS fp
        |  FROM st),
        |pf AS (SELECT source, fp, COUNT(*) AS n_occ,
        |    COUNT(DISTINCT doc_id) AS df
        |  FROM ng GROUP BY 1, 2),
        |fl AS (SELECT pf.source, n_occ,
        |    (df >= 2 AND df * 5 >= n_docs) AS boiler, n_docs
        |  FROM pf JOIN tot ON pf.source = tot.source),
        |g AS (SELECT source, MIN(n_docs) AS n_docs,
        |    CAST(SUM(n_occ) AS BIGINT) AS gram_occurrences,
        |    COUNT(*) AS distinct_grams,
        |    CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT)
        |      AS boiler_grams,
        |    CAST(SUM(CASE WHEN boiler THEN n_occ ELSE 0 END) AS BIGINT)
        |      AS boiler_occurrences
        |  FROM fl GROUP BY 1)
        |SELECT source, n_docs, gram_occurrences, distinct_grams,
        |  boiler_grams, boiler_occurrences,
        |  CAST(boiler_occurrences AS DOUBLE) /
        |    CAST(gram_occurrences AS DOUBLE) AS boiler_share
        |FROM g""".stripMargin,

    "text_dsir_select" ->
      """WITH t AS (SELECT doc_id, source,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, COUNT(*) AS n FROM t GROUP BY tok),
        |tg AS (SELECT tok, COUNT(*) AS n_t FROM t
        |  WHERE source = 'src0' GROUP BY tok),
        |tot AS (SELECT
        |    CAST(length(bin(CAST((SELECT SUM(n) FROM c) AS BIGINT)))
        |      AS INT) AS bits_nr,
        |    CAST(length(bin(CAST((SELECT SUM(n_t) FROM tg) AS BIGINT)))
        |      AS INT) AS bits_nt),
        |sc AS (SELECT doc_id, t.source,
        |    CAST(length(bin(COALESCE(tg.n_t, 0) + 1)) AS INT)
        |      - CAST(length(bin(c.n + 1)) AS INT) AS db
        |  FROM t JOIN c USING (tok) LEFT JOIN tg USING (tok)
        |  WHERE t.source <> 'src0'),
        |g AS (SELECT doc_id, source, COUNT(*) AS n_tokens,
        |    CAST(SUM(db) AS BIGINT) AS tok_bits
        |  FROM sc GROUP BY 1, 2)
        |SELECT doc_id, source, n_tokens,
        |  tok_bits + n_tokens * (bits_nr - bits_nt) AS score_bits
        |FROM g, tot
        |ORDER BY score_bits DESC, doc_id LIMIT 50""".stripMargin,

    "text_token_fertility" ->
      s"""WITH g AS (SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
         |    CAST(SUM(len(regexp_extract_all(text, '$TOKEN_RE'))) AS BIGINT)
         |      AS re_tokens,
         |    CAST(SUM(length(text)) AS BIGINT) AS n_chars
         |  FROM documents GROUP BY 1)
         |SELECT source, n_docs, ws_tokens, re_tokens, n_chars,
         |  CAST(re_tokens AS DOUBLE) / CAST(ws_tokens AS DOUBLE) AS fertility,
         |  CAST(n_chars AS DOUBLE) / CAST(re_tokens AS DOUBLE)
         |    AS chars_per_token
         |FROM g""".stripMargin
  )
}
