package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The one shared-value mechanism: CachePool.shared memoizes per
  * (session, dir, name) and releaseAll drops every entry.
  */
class CachePoolSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("shared relations are per session and rebuilt after releaseAll") {
    CachePool.releaseAll()
    try {
      val first = Tables.eventsShared(spark, sfDir)
      assert(Tables.eventsShared(spark, sfDir) eq first,
        "two calls in one session must share one instance")
      val s2 = spark.newSession()
      val other = Tables.eventsShared(s2, sfDir)
      assert(other.sparkSession eq s2,
        "a second session must get a relation bound to itself")
      assert(other ne first)
      assert(Tables.eventsShared(s2, sfDir) eq other)
      CachePool.releaseAll()
      assert(Tables.eventsShared(spark, sfDir) ne first,
        "releaseAll must drop the memoized relation")
    } finally CachePool.releaseAll()
  }

  test("shared builds a value once per key, nesting allowed") {
    CachePool.releaseAll()
    try {
      var builds = 0
      def outer(): Int = CachePool.shared(spark, sfDir, "spec_outer") {
        builds += 1
        CachePool.shared(spark, sfDir, "spec_inner") { builds += 1; 20 } + 1
      }
      assert(outer() === 21 && outer() === 21)
      assert(builds === 2)
      assert(CachePool.shared(spark, "other_dir", "spec_outer")(7) === 7)
      CachePool.releaseAll()
      assert(outer() === 21)
      assert(builds === 4)
    } finally CachePool.releaseAll()
  }

  test("no memo outside CachePool: TrieMap and onRelease live only there") {
    // Source audit: a hand-rolled map in an operator module would skip
    // the session key and the release boundary, so every memo must go
    // through CachePool.shared.
    def scalaFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
      }
    val files = scalaFiles(new java.io.File("src/main/scala"))
    def text(f: java.io.File) = new String(
      java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val offenders = files.filter(_.getName != "CachePool.scala").flatMap { f =>
      Seq("TrieMap", "onRelease").filter(text(f).contains)
        .map(w => s"${f.getPath}: $w")
    }
    assert(offenders.isEmpty,
      s"""memo machinery outside CachePool (use CachePool.shared):
         |  ${offenders.mkString("\n  ")}""".stripMargin)
    // the scan must see the source tree, including the one memo
    val pool = files.find(_.getName == "CachePool.scala")
    assert(files.size > 20 && pool.exists(f => text(f).contains("TrieMap")))
  }
}
