package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every query must EXECUTE on an empty corpus without throwing: at
  * 100 TB, empty partitions, empty days, and freshly-truncated tables
  * are routine inputs, and an operator that NPEs on SUM-of-nothing or
  * head()-of-nothing takes the whole pipeline down. Zero rows out is
  * fine; an exception is not. Each query's empty-corpus run is the one
  * that CatalogSweep makes on its walk of the catalog (SparkEntry.walk).
  */
class EmptyCorpusSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("every query executes on an empty corpus (0 rows ok, exceptions not)") {
    val failures = CatalogSweep.catalog.emptyFailures
    assert(failures.isEmpty, s"queries failing on empty input:\n${failures.mkString("\n")}")
  }

  test("incrementalMatches tolerates an empty batch and an empty corpus") {
    // the streaming-ingestion entry point meets empty microbatches
    // (idle trigger) and empty corpora (first snapshot) as a matter of
    // course — both must yield zero matches, not a throw
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val none = docs.limit(0)
    assert(graft.operators.Dedup.incrementalMatches(docs, none).count() === 0L)
    assert(graft.operators.Dedup.incrementalMatches(none, docs).count() === 0L)
    CachePool.releaseAll()
  }
}
