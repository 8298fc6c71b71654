package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, expr, max, row_number}
import org.scalatest.funsuite.AnyFunSuite

/** The catalog checks read CatalogSweep's facts, so the sweep itself is
  * under test here, on a toy catalog with one planted defect per check.
  */
class CatalogSweepSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("sweep canary: each planted defect lands in its own check, once per corpus, past a throwing build") {
    val root = java.nio.file.Files.createTempDirectory("graft_sweep").toString
    val (full, empty) = (s"$root/full", s"$root/empty")
    spark.range(3).write.parquet(s"$full/t.parquet")
    spark.range(0).write.parquet(s"$empty/t.parquet")
    def t(d: String) = spark.read.parquet(s"$d/t.parquet")
    // one family per query, so the walk opens a window for each
    val toys: Map[String, SparkEntry.Query] = Map(
      "broken_build" -> ((_, _) => throw new IllegalStateException("planted")),
      "cross_pairs" -> ((_, d) => t(d).crossJoin(t(d).withColumnRenamed("id", "id2"))),
      "decimal_out" -> ((_, d) => t(d).select(expr("CAST(id AS DECIMAL(18,2))").as("m"))),
      // a MAX over no rows is NULL, and reading it as a long throws
      "empty_max" -> ((_, d) => spark.range(t(d).agg(max("id")).head().getLong(0)).toDF()),
      "plain_ok" -> ((_, d) => t(d).groupBy((col("id") % 2).as("p")).count()),
      "window_global" -> ((_, d) =>
        t(d).withColumn("r", row_number().over(Window.orderBy("id")))))
    val calls = new ConcurrentHashMap[(String, String), AtomicInteger]()
    val windowBuilds = new AtomicInteger()
    val counted = toys.map { case (name, fn) =>
      val query: SparkEntry.Query = (s, d) => {
        calls.computeIfAbsent((name, d), _ => new AtomicInteger()).incrementAndGet()
        // released after every window, so each window builds its own
        CachePool.shared(s, d, "sweep-canary")(windowBuilds.incrementAndGet())
        fn(s, d)
      }
      name -> query
    }
    val sweep = CatalogSweep(spark, counted, full, empty)

    assert(sweep.names === toys.keys.toSeq.sorted, "every query after the throwing one is recorded")
    assert(sweep.names.filter(sweep.failure(_).nonEmpty) === Seq("broken_build"))
    assert(sweep.failure("broken_build").exists(_.contains("planted")))
    assert(sweep.emptyFailures.map(_.takeWhile(_ != ':')) === Seq("broken_build", "empty_max"))
    assert(sweep.partitionlessWindows === Seq("window_global"))
    assert(sweep.typeOffenders === Seq("decimal_out.m: DECIMAL(18,2)"))
    assert(sweep.sortAggregates.isEmpty)
    val cartesian = sweep.names.filterNot(_ == "broken_build").filter { n =>
      val p = sweep.plan(n)
      p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
    }
    assert(cartesian === Seq("cross_pairs"))
    assert(intercept[IllegalStateException](sweep.plan("broken_build")).getMessage
      .contains("broken_build did not build"))

    for (name <- toys.keys; dir <- Seq(full, empty))
      assert(Option(calls.get((name, dir))).map(_.get) === Some(1), s"$name built once on $dir")
    assert(calls.size === 2 * toys.size)
    assert(windowBuilds.get === 2 * toys.size, "one CachePool window per family and corpus")
  }
}
