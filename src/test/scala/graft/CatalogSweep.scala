package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.types.StructType

/** What one build of a query on the plan corpus showed: its output
  * schema, its physical plan before it ran (AQE on, so the text is the
  * initial adaptive plan), the nodes of that plan that window without a
  * partition, and why it did not run to its full result, if it did not.
  */
final case class QueryFacts(
    schema: StructType,
    plan: String,
    partitionlessWindows: Seq[String],
    runError: Option[String])

/** The per-query invariants of a catalog, read from one build of each
  * query per corpus. A query whose build threw has no facts; the
  * executes checks ([[failure]], [[emptyFailures]]) own it, and the
  * whole-catalog checks read every query that built, so one broken
  * query hides no other.
  */
final class CatalogSweep(
    built: Map[String, Either[String, QueryFacts]],
    emptyErrors: Map[String, Option[String]]) {

  val names: Seq[String] = built.keys.toSeq.sorted
  private val ok: Seq[(String, QueryFacts)] =
    names.flatMap(n => built(n).toOption.map(n -> _))

  /** The facts of `name`; reading those of a query whose build threw
    * fails with the build's error. */
  def facts(name: String): QueryFacts = built(name).fold(
    e => throw new IllegalStateException(s"$name did not build: $e"), identity)

  def plan(name: String): String = facts(name).plan

  /** Why `name` did not build or run to its full result, if it did not. */
  def failure(name: String): Option[String] =
    built(name).fold(e => Some(s"build: $e"), _.runError)

  /** `name: error` of every query that threw on the empty corpus. */
  def emptyFailures: Seq[String] =
    names.flatMap(n => emptyErrors(n).map(e => s"$n: $e"))

  /** `name.column: TYPE` of every output column whose type
    * [[OutputTypeSpec]] does not allow. */
  def typeOffenders: Seq[String] = ok.flatMap { case (name, f) =>
    f.schema.fields.collect {
      case c if !OutputTypeSpec.allowed(c.dataType) => s"$name.${c.name}: ${c.dataType.sql}"
    }
  }

  def partitionlessWindows: Seq[String] =
    ok.collect { case (name, f) if f.partitionlessWindows.nonEmpty => name }

  def sortAggregates: Seq[String] =
    ok.collect { case (name, f) if f.plan.contains("SortAggregate") => name }
}

object CatalogSweep {
  private val sf0001 = "/root/testdata/sf0.001"

  /** The catalog at sf0.001 and on an empty copy of it, swept once per
    * test JVM; QueriesSpec, PlanAuditSpec, PlanQualitySpec,
    * OutputTypeSpec and EmptyCorpusSpec read it. */
  lazy val catalog: CatalogSweep = {
    val spark = TestSession.spark
    apply(spark, SparkEntry.queries, sf0001, emptyCorpus(spark, sf0001))
  }

  /** Builds each query of `catalog` once on `sfDir` and once on
    * `emptyDir`, walking it as Bench and Verify do (SparkEntry.walk: name
    * order, one CachePool window per family). On `sfDir` the plan facts
    * are read before the query runs, then it runs to its full result
    * through the `noop` sink (a `count()` would let Catalyst drop its
    * windows, joins and sorts); on `emptyDir` it runs a `count()`. A
    * throw at build or run is recorded against its query, and the
    * sweep moves on. Only facts are kept, never a DataFrame.
    */
  def apply(spark: SparkSession, catalog: Map[String, SparkEntry.Query],
      sfDir: String, emptyDir: String): CatalogSweep = {
    val helper = new AdaptiveSparkPlanHelper {}
    def describe(e: Throwable): String =
      (e.toString.take(2000) +: e.getStackTrace.take(8).map("  at " + _)).mkString("\n")
    def onSf(fn: SparkEntry.Query): Either[String, QueryFacts] =
      try {
        val df = fn(spark, sfDir)
        val p = df.queryExecution.executedPlan
        val windows = helper.collect(p) {
          case w: WindowExec if w.partitionSpec.isEmpty => w.nodeName
          case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w.nodeName
        }
        val facts = QueryFacts(df.schema, p.toString, windows, None)
        try { df.write.format("noop").mode("overwrite").save(); Right(facts) }
        catch { case e: Throwable => Right(facts.copy(runError = Some(describe(e)))) }
      } catch { case e: Throwable => Left(describe(e)) }
    def onEmpty(fn: SparkEntry.Query): Option[String] =
      try { fn(spark, emptyDir).count(); None }
      catch { case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
      }
    val swept = SparkEntry.walk(catalog) { (_, window) =>
      window.map { case (name, fn) => (name, onSf(fn), onEmpty(fn)) }
    }.flatten
    new CatalogSweep(swept.map(s => s._1 -> s._2).toMap, swept.map(s => s._1 -> s._3).toMap)
  }

  /** Zero-row copies of every table of `src`, preserving physical
    * schemas — events is copied in its raw nanos-as-long shape so
    * `Tables.events`' ns→µs conversion still applies to the copy.
    */
  def emptyCorpus(spark: SparkSession, src: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").limit(0)
        .write.parquet(s"$dir/$t.parquet")
    }
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try spark.read.parquet(s"$src/events.parquet").limit(0)
      .write.parquet(s"$dir/events.parquet")
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    dir
  }
}
