package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.operators.Similarity

/** The arm-tagged graph walk: every (arm, bw) pair of one chain equals
  * that pair walked alone, and the walk queries share that one chain
  * per corpus.
  */
class GraphWalkSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val n = 48
  private def vec(i: Int): Seq[Double] =
    Seq(math.sin(i * 0.7), math.cos(i * 1.3), math.sin(i * 2.9 + 1),
      0.2 + (i % 5) * 0.1)

  /** Symmetrized (src, dst) edges from each node in `nodes` to `f(i)`. */
  private def edges(f: Int => Seq[Int], nodes: Seq[Int] = 0 until n): DataFrame = {
    val dir = for (i <- nodes; j <- f(i)) yield (i.toLong, j.toLong)
    (dir ++ dir.map(_.swap)).distinct.toDF("src", "dst")
  }

  test("tagged walk: each (arm, bw) equals that arm walked alone, segment restart included") {
    val corpus = (0 until n).map(i => (i.toLong, vec(i))).toDF("vec_id", "e")
    val qs = Seq(100, 101, 102).map(q => (q.toLong, vec(q))).toDF("q_id", "qe")
    val ring = edges(i => Seq((i + 1) % n))
    val skip = edges(i => Seq((i + 5) % n, (i + 11) % n))
    val hash = edges(i => Seq((i * 7 + 3) % n))
    val mid = edges(i => Seq((i + 4) % n), nodes = 0 until n by 2)
    val hops = 4
    val widths = Seq(1, 2, 4, 8)
    // (arm, widths, entry stride, segments); "layered" walks the even
    // nodes' graph for hops 1-2 and restarts over the ring at hop 3
    val arms = Seq(
      ("ring", widths, 6, Seq(1 -> ring)),
      ("skip", Seq(3), 6, Seq(1 -> skip)),
      ("hash", widths, 6, Seq(1 -> hash)),
      ("layered", widths, 12, Seq(1 -> mid, 3 -> ring)))
    def seedOf(arm: String, bws: Seq[Int], stride: Int): DataFrame =
      corpus.filter(col("vec_id") % stride === 0).crossJoin(qs)
        .select(lit(arm).as("arm"), explode(array(bws.map(lit(_)): _*)).as("bw"),
          col("q_id"), col("vec_id"),
          GraftFunctions.cosineSim(col("qe"), col("e")).as("cosine"))
    def walk(as: Seq[(String, Seq[(Int, DataFrame)])], seed: DataFrame, h: Int) =
      Similarity.beamWalkRounds(qs, corpus, as, seed, h)
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

    val (visited, trace) = walk(arms.map(a => a._1 -> a._4),
      arms.map(a => seedOf(a._1, a._2, a._3)).reduce(_ unionByName _), hops)
    val tagged = (rows(visited), rows(trace))
    for ((arm, bws, stride, segs) <- arms) {
      val (v, t) = walk(Seq(arm -> segs), seedOf(arm, bws, stride), hops)
      // visited rows lead with the arm, trace rows with the hop
      assert(rows(v) === tagged._1.filter(_.startsWith(s"$arm|")), s"$arm visited")
      assert(rows(t) === tagged._2.filter(_.contains(s"|$arm|")), s"$arm trace")
      assert(rows(t).map(_.split('|')(2).toInt).distinct.sorted === bws,
        s"$arm widths")
    }
    // the two-segment arm equals two one-segment walks chained, the
    // second starting from the first's visited set with nothing expanded
    val (v1, t1) = walk(Seq("layered" -> Seq(1 -> mid)),
      seedOf("layered", widths, 12), 2)
    val (v2, t2) = walk(Seq("layered" -> Seq(1 -> ring)), v1, hops - 2)
    val chained = t1.unionByName(t2.filter(col("hop") > 0)
      .withColumn("hop", col("hop") + 2))
    assert(rows(v2) === tagged._1.filter(_.startsWith("layered|")))
    assert(rows(chained) === tagged._2.filter(_.contains("|layered|")))
  }

  test("the nine walk queries run one walk per corpus at sf0.001") {
    val names = Seq("ann_clustered_beam_curve", "ann_clustered_bridge_curve",
      "ann_clustered_incremental_graph", "ann_clustered_layered_curve",
      "ann_clustered_prune_curve", "ann_graph_beam_curve",
      "ann_graph_layered_curve", "ann_graph_prune_curve",
      "ann_incremental_graph")
    CachePool.releaseAll()
    val jobs = SparkJobs.during(spark) {
      names.foreach(name => Similarity.queries(name)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save())
    }
    CachePool.releaseAll()
    // half the 1,556 jobs the same nine queries ran in this window when
    // each arm walked its own chain (11 chains over the two corpora)
    info(s"$jobs jobs")
    assert(jobs <= 1556 / 2, s"$jobs jobs")
  }
}
