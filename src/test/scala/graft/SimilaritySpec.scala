package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftExtensions, GraftFunctions, VectorOps}
import graft.operators.Similarity
import graft.sources.Tables

/** Semantic checks for the SemDeDup family: the clustered pair search
  * against the brute-force ground truth (subset property — clustering
  * may only LOSE pairs, never invent them) and the internal consistency
  * of the per-cluster report.
  */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("PQ error: assignments are truly nearest, MSE matches a brute recompute") {
    val got = Similarity.queries("ann_pq_error")(spark, sfDir)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val Q = 1073741824.0
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        VectorOps.asDouble(col("embedding")).as("e"))
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Double](2).toArray))
    // centroids exactly as the query builds them: grid-quantized means
    val byLabel = vecs.groupBy(_._2)
    val cents = byLabel.view.mapValues { vs =>
      Array.tabulate(64) { d =>
        vs.map(v => math.floor(v._3(d) * Q + 0.5).toLong).sum.toDouble / Q /
          vs.size
      }
    }.toMap
    val m = got.size // number of subspaces, from the report itself
    val sub = 64 / m
    for (s <- 0 until m) {
      val (nV, nC, mse) = got(s)
      assert(nV === vecs.length.toLong)
      assert(nC === byLabel.size.toLong)
      var acc = 0L
      for ((_, _, e) <- vecs) {
        // fold in element order to reproduce the query's exact doubles
        val dists = cents.toSeq.map { case (l, c) =>
          var dsum = 0.0
          for (d <- s * sub until (s + 1) * sub) {
            val dd = e(d) - c(d); dsum += dd * dd
          }
          (dsum, l)
        }
        val best = dists.min._1
        // every candidate distance must be >= the chosen one
        assert(dists.forall(_._1 >= best))
        acc += math.floor(best * Q + 0.5).toLong
      }
      assert(math.abs(mse - acc.toDouble / Q / vecs.length) < 1e-12,
        s"subspace $s mse")
    }
    // PQ at 4 bytes/vec must cost more error than int8's 64 bytes/vec
    assert(got.values.forall(_._3 > 0.0))
  }

  private def brutePairs = {
    GraftExtensions.install(spark)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("e"))
    val a = e.select(col("vec_id").as("va"), col("e").as("ea"))
    val b = e.select(col("vec_id").as("vb"), col("e").as("eb"))
    a.join(b, col("va") < col("vb"))
      .filter(GraftFunctions.cosineSim(col("ea"), col("eb")) >= 0.45)
      .select("va", "vb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("ann_semdedup report is internally consistent and matches the recall query") {
    val report = Similarity.queries("ann_semdedup")(spark, sfDir).collect()
    assert(report.nonEmpty)
    val nVectors = report.map(_.getLong(1)).sum
    assert(nVectors === Tables.embeddings(spark, sfDir).count(),
      "primary assignment must partition the corpus (each vector once)")
    for (r <- report) {
      assert(r.getLong(3) <= r.getLong(1), "dropped ≤ cluster size")
      assert(r.getLong(4) === r.getLong(1) - r.getLong(3), "kept = size − dropped")
    }
    val recall = Similarity.queries("ann_semdedup_recall")(spark, sfDir)
      .collect().head
    val (nTrue, nCaptured) = (recall.getLong(0), recall.getLong(1))
    // captured ⊆ true: the blocked search can only LOSE pairs
    assert(nCaptured <= nTrue)
    assert(nTrue === brutePairs.size)
    // the distinct-pair count in the report reconciles with the recall row
    assert(report.map(_.getLong(2)).sum === nCaptured,
      "per-cluster pair counts must sum to the distinct captured pairs")
    // multi-probe is the recall lever — at this SF it measures 1.0;
    // assert the design floor rather than the exact value so a corpus
    // regeneration cannot break the test without a real recall loss
    assert(nCaptured.toDouble / nTrue >= 0.8, s"recall $nCaptured/$nTrue")
  }

  test("centroid drift: cohorts partition each label, drift matches a brute-force recomputation") {
    val sfDir = "/root/testdata/sf0.001"
    val drift = Similarity.queries("ann_centroid_drift")(spark, sfDir)
      .collect().map(r => r.getAs[Int]("label") -> r).toMap
    assert(drift.nonEmpty)
    val perLabel = Tables.embeddings(spark, sfDir)
      .groupBy("label").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[Int]("label") -> r.getAs[Long]("n")).toMap
    drift.foreach { case (l, r) =>
      assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") === perLabel(l))
      assert(r.getAs[Double]("drift_l2") >= 0.0)
    }
    // brute-force one label end to end on the same 2^30 grid
    val l0 = drift.keys.min
    val rows = Tables.embeddings(spark, sfDir)
      .filter(col("label") === l0)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("e"))
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getSeq[Double](1)))
    val Q = 1073741824.0
    def centroid(vs: Seq[Seq[Double]]): Seq[Double] =
      vs.transpose.map(c =>
        c.map(v => math.floor(v * Q + 0.5)).sum / Q / c.length)
    val (ea, eb) = rows.partition(_._1 % 2 == 0)
    val (ca, cb) = (centroid(ea.map(_._2).toSeq), centroid(eb.map(_._2).toSeq))
    val want = math.sqrt(ca.zip(cb)
      .map { case (x, y) => math.floor((x - y) * (x - y) * Q + 0.5) }
      .sum / Q)
    assert(math.abs(drift(l0).getAs[Double]("drift_l2") - want) < 1e-12,
      s"label $l0 drift")
  }

  test("graph tier: topk is well-formed, recall bounded, beam curve monotone") {
    // the search result is the standard top-k shape over CORPUS vectors
    val topk = Similarity.queries("ann_graph_topk")(spark, sfDir).collect()
    val byQ = topk.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size === 10)
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Int]("rn")).sorted.toSeq === (1 to 5),
        s"q=$q ranks")
      // ranks ordered by descending cosine (vec_id tiebreak)
      val ordered = rows.sortBy(_.getAs[Int]("rn"))
        .map(r => (r.getAs[Double]("cosine"), r.getAs[Long]("vec_id")))
      assert(ordered.sliding(2).forall {
        case Array((c1, v1), (c2, v2)) => c1 > c2 || (c1 == c2 && v1 < v2)
        case _ => true
      }, s"q=$q ordering")
      assert(rows.forall(_.getAs[Long]("vec_id") >= 10), s"q=$q corpus-only")
    }
    // recall per query is a hit fraction over the exact top-5
    val rec = Similarity.queries("ann_graph_recall")(spark, sfDir).collect()
    assert(rec.length === 10)
    assert(rec.forall { r =>
      val v = r.getAs[Double]("recall"); v >= 0.0 && v <= 1.0 })
    // the operating-point curve: widening the beam should score more
    // candidates and roughly monotone recall. Greedy graph search does
    // NOT guarantee strict monotonicity in general (r13 advice), so the
    // gate is softened to what a frontier-discipline regression would
    // actually break: candidates NON-decreasing, recall allowed one
    // small dip (≤ 0.1 per step), plus the hard beam-16 floor.
    val curve = Similarity.queries("ann_graph_beam_curve")(spark, sfDir)
      .collect().sortBy(_.getAs[Int]("beam_width"))
    assert(curve.map(_.getAs[Int]("beam_width")).toSeq === Seq(2, 4, 8, 16))
    val cands = curve.map(_.getAs[Long]("candidates_scored"))
    assert(cands.sliding(2).forall { case Array(a, b) => a <= b; case _ => true },
      s"candidates shrank with beam (fixture sf0.001, seed-free): ${cands.toSeq}")
    val recalls = curve.map(_.getAs[Double]("recall"))
    assert(recalls.sliding(2).forall {
      case Array(a, b) => b >= a - 0.1; case _ => true },
      s"recall dropped >0.1 along the beam curve: ${recalls.toSeq}")
    assert(recalls.last >= 0.9,
      s"beam-16 recall collapsed at sf0.001: ${recalls.last} " +
        "(measured 1.0 at r14 HEAD)")
    CachePool.releaseAll()
  }

  test("graph tier: entry stride derives from the corpus count at two SFs") {
    // the r13 weak flag: a FIXED stride made the hop-0 scan O(n). The
    // derivation contract is stride = ceil(n / budget), so the entry
    // layer stays ≈budget rows at ANY corpus size. Checked at two SFs
    // with different corpus sizes so a re-hardcoded stride cannot pass.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.1")) {
      val n = Tables.embeddings(spark, dir).filter(col("vec_id") >= 10).count()
      val want = math.max(1L,
        math.ceil(n.toDouble / Similarity.graphEntryBudget).toLong)
      assert(Similarity.graphStride(spark, dir) === want,
        s"stride at $dir (n=$n)")
      // realized entry-layer size is within the budget and not degenerate
      val entries = Tables.embeddings(spark, dir)
        .filter(col("vec_id") >= 10 && col("vec_id") % want === 0).count()
      assert(entries <= Similarity.graphEntryBudget, s"entries=$entries at $dir")
      assert(entries >= Similarity.graphEntryBudget / 2,
        s"entry layer degenerate at $dir: $entries")
    }
    CachePool.releaseAll()
  }

  test("graph tier: hub prune caps symmetrized degree and recall survives") {
    // the A/B arm really is the same curve over a degree-capped graph:
    // every prune-curve row may only LOSE candidates vs the unpruned
    // row, and beam-16 recall holds the same floor (measured: identical
    // recall at sf0.001, the cap barely binds at max degree 18 vs 16)
    val base = Similarity.queries("ann_graph_beam_curve")(spark, sfDir)
      .collect().map(r => r.getAs[Int]("beam_width") ->
        (r.getAs[Long]("candidates_scored"), r.getAs[Double]("recall"))).toMap
    val pruned = Similarity.queries("ann_graph_prune_curve")(spark, sfDir)
      .collect().map(r => r.getAs[Int]("beam_width") ->
        (r.getAs[Long]("candidates_scored"), r.getAs[Double]("recall"))).toMap
    assert(pruned.keySet === base.keySet)
    for ((bw, (pc, pr)) <- pruned) {
      val (bc, _) = base(bw)
      assert(pc <= bc, s"prune added candidates at beam $bw: $pc > $bc")
      assert(pr >= 0.0 && pr <= 1.0)
    }
    assert(pruned(16)._2 >= 0.9,
      s"pruned beam-16 recall collapsed: ${pruned(16)._2}")
    CachePool.releaseAll()
  }

  test("ann_incremental: fence partitions the corpus, drift bounded, batch is the newest decile") {
    // conservation laws of the drift census: the per-cell standing/batch
    // counts must partition the corpus exactly along the fence rule
    // (batch = newest ceil(n/10) ids), movers can never exceed their
    // cohort, and the incremental assignment must place every vector
    // (no cell lost, no vector double-counted).
    val rows = Similarity.queries("ann_incremental")(spark, sfDir).collect()
    val n = Tables.embeddings(spark, sfDir).filter(col("vec_id") >= 10).count()
    val batchWant = math.ceil(n.toDouble / 10).toLong
    assert(rows.map(_.getAs[Long]("n_batch")).sum === batchWant,
      "batch cohort must be the newest ~decile")
    assert(rows.map(_.getAs[Long]("n_standing")).sum === n - batchWant)
    for (r <- rows) {
      assert(r.getAs[Long]("n_batch_moved") <= r.getAs[Long]("n_batch"),
        s"cell ${r.getAs[Long]("cent_id")}: movers exceed cohort")
      assert(r.getAs[Long]("n_standing_moved") <= r.getAs[Long]("n_standing"),
        s"cell ${r.getAs[Long]("cent_id")}: movers exceed cohort")
    }
    // cells are the standing seeds' descendants: distinct and non-empty
    val ids = rows.map(_.getAs[Long]("cent_id"))
    assert(ids.distinct.length === ids.length)
    assert(rows.forall(r =>
      r.getAs[Long]("n_standing") + r.getAs[Long]("n_batch") > 0L))
    CachePool.releaseAll()
  }

  test("ann_incremental_graph: two arms, sane ledgers, recall holds on the appended graph") {
    val rows = Similarity.queries("ann_incremental_graph")(spark, sfDir)
      .collect().map(r => r.getAs[String]("arm") -> r).toMap
    assert(rows.keySet === Set("appended", "rebuilt"))
    for ((arm, r) <- rows) {
      assert(r.getAs[Long]("n_edges") > 0L, s"$arm: empty graph")
      assert(r.getAs[Long]("candidates_scored") > 0L, s"$arm: empty ledger")
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0, s"$arm recall $rec")
      assert(r.getAs[Long]("total_hits") <= 50L, s"$arm hits exceed exact rows")
    }
    // STRUCTURAL invariants of the append (r14 advice — the old
    // rebuilt-minus-2G volume tolerance had no structural guarantee and
    // was brittle to corpus changes): the appended graph is a SUPERSET
    // of the symmetrized standing build (standing nodes never lose an
    // edge), and every edge beyond that superset touches a batch node
    // (the append can only add batch links + their back-links).
    val fence = Similarity.incFence(spark, sfDir)
    val standing = Similarity.incStandingSymEdges(spark, sfDir)
      .select("src", "dst")
    val appended = Similarity.incAppendedEdges(spark, sfDir)
    assert(standing.join(appended, Seq("src", "dst"), "left_anti").isEmpty,
      "append dropped a standing edge — must be a superset of the standing build")
    val extras = appended.join(standing, Seq("src", "dst"), "left_anti")
    assert(extras.filter(col("src") <= fence && col("dst") <= fence).isEmpty,
      "an appended edge links two standing nodes — only batch insertions may add edges")
    // and the report's n_edges is exactly the appended relation's size
    assert(rows("appended").getAs[Long]("n_edges") === appended.count(),
      "report edge volume diverges from the appended relation")
    assert(rows("appended").getAs[Double]("recall") >= 0.9,
      s"sf0.001 appended recall collapsed: ${rows("appended").getAs[Double]("recall")}")
    CachePool.releaseAll()
  }

  test("clustered cohort: synthesis creates real clusters and the four A/B arms hold") {
    // 1. the cohort itself (the r15 synthesis convention): anchor+e must
    // produce REAL clusters — mean within-label cosine separates from
    // mean cross-label cosine by a wide margin; ids are conserved.
    GraftExtensions.install(spark)
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        VectorOps.asDouble(col("embedding")).as("e0"))
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy("vec_id")
    val anchors = base.withColumn("arn", row_number().over(wA))
      .filter(col("arn") === 1).select(col("label"), col("e0").as("ae"))
    val clu = base.join(broadcast(anchors), "label")
      .select(col("vec_id"), col("label"),
        zip_with(col("ae"), col("e0"), _ + _).as("e"))
    assert(clu.count() === base.count(), "cohort must conserve every id")
    val a = clu.select(col("vec_id").as("va"), col("label").as("la"), col("e").as("ea"))
    val b = clu.select(col("vec_id").as("vb"), col("label").as("lb"), col("e").as("eb"))
    val stats = a.join(b, col("va") < col("vb"))
      .withColumn("c", GraftFunctions.cosineSim(col("ea"), col("eb")))
      .groupBy(col("la") === col("lb")).agg(avg("c")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(stats(true) > stats(false) + 0.3,
      s"synthesis failed to cluster: within ${stats(true)} vs cross ${stats(false)}")

    // 2. the four clustered arms: well-formed, and the navigability
    // story holds — on clustered data the walk reaches its floor at the
    // SMALLEST beam (measured 1.0 across the curve at sf0.001/0.1)
    val curve = Similarity.queries("ann_clustered_beam_curve")(spark, sfDir)
      .collect().sortBy(_.getAs[Int]("beam_width"))
    assert(curve.map(_.getAs[Int]("beam_width")).toSeq === Seq(2, 4, 8, 16))
    assert(curve.head.getAs[Double]("recall") >= 0.9,
      s"clustered beam-2 recall ${curve.head.getAs[Double]("recall")} " +
        "(measured 1.0 — clustered data is the tier's EASY case)")
    val pruned = Similarity.queries("ann_clustered_prune_curve")(spark, sfDir)
      .collect().sortBy(_.getAs[Int]("beam_width"))
    // structural A/B: the prune may only LOSE candidates per beam width
    for ((bse, prn) <- curve.zip(pruned)) {
      assert(prn.getAs[Long]("candidates_scored") <=
        bse.getAs[Long]("candidates_scored"),
        s"prune added candidates at beam ${bse.getAs[Int]("beam_width")}")
      assert(prn.getAs[Double]("recall") >= bse.getAs[Double]("recall") - 0.1,
        "pruned recall collapsed vs unpruned")
    }
    val inc = Similarity.queries("ann_clustered_incremental_graph")(spark, sfDir)
      .collect().map(r => r.getAs[String]("arm") -> r).toMap
    assert(inc.keySet === Set("appended", "rebuilt"))
    assert(inc("appended").getAs[Double]("recall") >= 0.9,
      "clustered append recall collapsed")
    val rec = Similarity.queries("ann_clustered_semdedup_recall")(spark, sfDir)
      .collect().head
    assert(rec.getAs[Long]("n_captured") <= rec.getAs[Long]("n_true_pairs"))
    assert(rec.getAs[Double]("recall") >= 0.95,
      s"clustered blocking recall ${rec.getAs[Double]("recall")} " +
        "(measured 1.0 at sf0.001, 0.9992 at sf0.1)")
    CachePool.releaseAll()
  }

  test("assignToCells property: random vectors argmax-match the brute model, ties to smaller cent") {
    // the incremental append's one moving part, driven with synthetic
    // vectors INCLUDING exact ties (a vector at equal cosine to two
    // centroids must land in the smaller cent_id — the family's argmax
    // rule); deterministic seed, dims small so ties are constructible
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // orthogonal centroids so the tie vectors below tie EXACTLY
    // between their two intended cells and nothing else
    val cents = Seq(
      (10L, Seq(1.0, 0.0, 0.0)), (20L, Seq(0.0, 1.0, 0.0)),
      (30L, Seq(0.0, 0.0, 1.0)))
    val vecs = (0 until 50).map { i =>
      (100L + i, Seq.fill(3)(rnd.nextDouble() * 2 - 1))
    } ++ Seq(
      (900L, Seq(1.0, 1.0, 0.0)), // exact tie between cents 10 and 20
      (901L, Seq(0.0, 1.0, 1.0))) // exact tie between cents 20 and 30
    val got = Similarity.assignToCells(
        vecs.toDF("vec_id", "e"), cents.toDF("cent_id", "ce"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    for ((id, e) <- vecs) {
      val want = cents.map { case (cid, ce) => (cid, cos(e, ce)) }
        .minBy { case (cid, c) => (-c, cid) }._1
      assert(got(id) === want, s"vec $id")
    }
    assert(got(900L) === 10L && got(901L) === 20L,
      "exact-tie vectors must land in the smaller cent_id")
    assert(got.size === vecs.size, "every vector assigned exactly once")
    CachePool.releaseAll()
  }

  test("search_mmr_rerank replays the greedy MMR model exactly") {
    // brute model: cosine shortlist per query, then greedy λ=0.5 picks
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val got = Similarity.queries("search_mmr_rerank")(spark, sfDir)
      .collect().groupBy(_.getAs[Long]("q_id"))
    assert(got.keySet === (0L until 10L).toSet)
    for ((q, rows) <- got) {
      val qe = vecs(q)
      val short = vecs.filter(_._1 >= 10).toSeq
        .map { case (id, e) => (id, cosine(qe, e)) }
        .sortBy { case (id, rel) => (-rel, id) }.take(20)
      val picked = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
      for (r <- 1 to 5) {
        val best = short.filterNot(c => picked.exists(_._1 == c._1))
          .map { case (id, rel) =>
            val maxSim = if (picked.isEmpty) 0.0
              else picked.map(p => cosine(vecs(id), vecs(p._1))).max
            (id, rel, 0.5 * rel - 0.5 * maxSim)
          }.minBy { case (id, _, m) => (-m, id) }
        val g = rows.find(_.getAs[Int]("mmr_rank") == r).get
        assert((g.getAs[Long]("vec_id"), g.getAs[Double]("relevance"),
          g.getAs[Double]("mmr")) === ((best._1, best._2, best._3)),
          s"q=$q rank=$r")
        picked += ((best._1, best._3))
      }
    }
    CachePool.releaseAll()
  }
}
