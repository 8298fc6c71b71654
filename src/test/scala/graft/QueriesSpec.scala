package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression guard: every declared query must execute at sf0.001 (the
  * driver's smoke scale) without throwing, and every oracle key must
  * reference a declared query. Value correctness is the DuckDB oracle's
  * job (driver + tools/check_oracle.py); this catches wiring/analysis
  * breakage fast.
  * Each query runs to its full result through the `noop` sink, in the
  * run that CatalogSweep makes on its walk of the catalog
  * (SparkEntry.walk).
  */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("oracleSql keys are a subset of queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("query names are globally unique across modules (no silent shadowing)") {
    // SparkEntry unions the module maps with ++, where a duplicate key
    // SILENTLY drops the earlier module's query — a collision once cost
    // a verified query without any test noticing. Names must be unique.
    val modules: Seq[(String, Iterable[String])] = Seq(
      "CdcQueries" -> pipeline.CdcQueries.queries.keys,
      "Relational" -> operators.Relational.queries.keys,
      "RelationalExt" -> operators.RelationalExt.queries.keys,
      "RelationalExt2" -> operators.RelationalExt2.queries.keys,
      "TpchRest" -> operators.TpchRest.queries.keys,
      "Mining" -> operators.Mining.queries.keys,
      "Stats" -> operators.Stats.queries.keys,
      "Profiling" -> operators.Profiling.queries.keys,
      "SqlSurface" -> operators.SqlSurface.queries.keys,
      "Dedup" -> operators.Dedup.queries.keys,
      "Similarity" -> operators.Similarity.queries.keys,
      "Graph" -> operators.Graph.queries.keys,
      "Layout" -> operators.Layout.queries.keys,
      "TextAnalysis" -> operators.TextAnalysis.queries.keys,
      "Curation" -> operators.Curation.queries.keys,
      "Multimodal" -> multimodal.Multimodal.queries.keys)
    val dupes = modules
      .flatMap { case (m, ks) => ks.map(_ -> m) }
      .groupBy(_._1).filter(_._2.size > 1)
      .map { case (k, ms) => s"$k in ${ms.map(_._2).mkString("+")}" }
    assert(dupes.isEmpty, s"shadowed query names: $dupes")
    // and the union must therefore be exactly the sum of the parts
    assert(SparkEntry.queries.size === modules.map(_._2.size).sum)
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("a query plans the same on a session graft never touched") {
    // agg_mode_per_group installs nothing itself; its row_number filter
    // takes the top-k rewrite only because SparkEntry.queries installs
    // graft's set-up before every query
    val fresh = spark.newSession()
    try {
      val df = SparkEntry.queries("agg_mode_per_group")(fresh, sfDir)
      val plan = df.queryExecution.optimizedPlan
      assert(plan.exists(_.isInstanceOf[graft.plans.TopKPerKeyLogical]), plan.treeString)
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSet
      val want = rows(SparkEntry.queries("agg_mode_per_group")(spark, sfDir))
      assert(rows(df) === want)
      assert(want.nonEmpty)
    } finally CachePool.releaseAll()
  }

  test("public operator entry points install graft on a bare session") {
    import org.apache.spark.sql.functions.col
    val fresh = spark.newSession()
    import fresh.implicits._
    val docs = graft.sources.Tables.documents(fresh, sfDir)
      .select(col("doc_id"), col("text")).limit(20)
    assert(graft.operators.Dedup.incrementalMatches(docs, docs).count() >= 0L)
    val cells = graft.operators.Similarity.assignToCells(
      Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.1, 1.0))).toDF("vec_id", "e"),
      Seq((10L, Seq(1.0, 0.0)), (20L, Seq(0.0, 1.0))).toDF("cent_id", "ce"))
    assert(cells.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 10L, 2L -> 20L))
    CachePool.releaseAll()
  }

  test("one catalog walk: only SparkEntry and the sweep iterate SparkEntry.queries") {
    // Source audit: a second loop over the catalog would build every
    // query again and keep its own family-window rule. Looking a query up
    // by name and listing the names (keySet, size, GraftSession.catalog)
    // stay allowed.
    def scalaFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
      }
    val files = Seq("src/main/scala", "src/test/scala")
      .flatMap(d => scalaFiles(new java.io.File(d)))
    // without line comments, a chain continued on the next line is one
    // expression
    def text(f: java.io.File) = new String(
      java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
      .replaceAll("//[^\n]*", "").replaceAll("\\s*\n\\s*\\.", ".")
    val arg = """(?:\((?:[^()]|\([^()]*\))*\))?"""
    val loop = ("""SparkEntry\.queries\.(?:(?:foreach|map|flatMap|filter|collect|toSeq|""" +
      """toList|toVector|iterator|values|sortBy)\b|keys(?:\.\w+""" + arg +
      """)*\.(?:map|flatMap|foreach|filter|collect)\b)""").r
    val home = Set("SparkEntry.scala", "CatalogSweep.scala")
    val offenders = files.filterNot(f => home(f.getName)).flatMap { f =>
      loop.findAllIn(text(f)).map(m => s"${f.getPath}: $m")
    }
    assert(offenders.isEmpty,
      s"""a catalog loop outside SparkEntry.walk:
         |  ${offenders.mkString("\n  ")}""".stripMargin)
    // the scan must see the source tree, and the pattern must catch the
    // loops it replaced while letting the name listing through
    val entry = "SparkEntry.queries"
    assert(files.size > 50)
    assert(Seq(".toSeq.sortBy(_._1)", ".foreach { case (name, fn) =>",
      ".keys.toSeq.sorted.filterNot(allow).filter(n => plan(n).isEmpty)")
      .forall(l => loop.findFirstIn(entry + l).nonEmpty))
    assert(loop.findFirstIn(entry + ".keys.toSeq.sorted").isEmpty)
  }

  GraftSession.catalog.foreach { name =>
    test(s"query $name executes at sf0.001") {
      val failure = CatalogSweep.catalog.failure(name)
      assert(failure.isEmpty, s"$name: ${failure.getOrElse("")}")
    }
  }
}
