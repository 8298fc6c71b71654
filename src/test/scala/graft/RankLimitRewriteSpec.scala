package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftExtensions

class RankLimitRewriteSpec extends AnyFunSuite {
  // fresh session state: extraOptimizations must not leak into the other
  // specs' shared session
  lazy val spark = TestSession.spark.newSession()

  private def orders = graft.sources.Tables
    .orders(spark, "/root/testdata/sf0.001")
    .select("o_custkey", "o_orderkey", "o_totalprice")

  private def ranked = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders.withColumn("rn", row_number().over(w))
  }

  test("row_number filter is rewritten to the top-k operator, rn preserved") {
    GraftExtensions.install(spark)
    val df = ranked.filter(col("rn") <= 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FinalTopK"), plan)
    assert(plan.contains("PartialTopK"), plan)
    // the Window stays (it recomputes rn over ≤k rows per group) but no
    // WindowGroupLimit pruning remains and, critically, the exchange now
    // sits between the two top-k phases
    assert(!plan.contains("WindowGroupLimit"), plan)

    val expected = ranked.filter(col("rn") <= 3) // same plan, judge by rows
      .collect().map(_.toSeq).toSet
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    // reference computed WITHOUT the rewrite, on a session nothing
    // installs into
    val plainDf = graft.sources.Tables
      .orders(TestSession.spark.newSession(), "/root/testdata/sf0.001")
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    val plainPlan = plainDf.queryExecution.executedPlan.toString
    assert(!plainPlan.contains("FinalTopK"), plainPlan)
    val plain = plainDf.collect().map(_.toSeq).toSet
    assert(expected === plain)
    assert(expected.nonEmpty)
  }

  test("residual conjuncts survive as a filter above the rewrite") {
    GraftExtensions.install(spark)
    val df = ranked.filter(col("rn") <= 2 && col("o_totalprice") > 1000.0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FinalTopK"), plan)
    val rows = df.collect()
    assert(rows.forall(r => r.getAs[Double]("o_totalprice") > 1000.0))
    assert(rows.forall(r => r.getAs[Int]("rn") <= 2))
    assert(rows.nonEmpty)
  }

  test("floating-point partition keys are NOT rewritten (0.0/-0.0 grouping)") {
    GraftExtensions.install(spark)
    import spark.implicits._
    val df = Seq((0.0, 1L, 10.0), (-0.0, 2L, 5.0), (1.5, 3L, 7.0))
      .toDF("k", "id", "v")
    val w = Window.partitionBy("k").orderBy(col("v").desc, col("id"))
    val ranked = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 1)
    val plan = ranked.queryExecution.executedPlan.toString
    assert(!plan.contains("FinalTopK"),
      s"double keys must keep the Window formulation (binary top-k would split 0.0/-0.0):\n$plan")
    // normalized window semantics: 0.0 and -0.0 are ONE group
    val rows = ranked.select("id").collect().map(_.getLong(0)).toSet
    assert(rows === Set(1L, 3L), rows.toString)
  }

  test("WindowGroupLimit is stripped ONLY when spec matches and limit is not tighter") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, AttributeReference, CurrentRow, Descending, LessThanOrEqual, Literal, RowFrame, RowNumber, SortOrder, SpecifiedWindowFrame, UnboundedPreceding, WindowExpression, WindowSpecDefinition}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Window => LWindow, WindowGroupLimit}
    import org.apache.spark.sql.types.IntegerType
    import graft.plans.RankLimitRewrite

    val k = AttributeReference("k", IntegerType)()
    val v = AttributeReference("v", IntegerType)()
    val rel = LocalRelation(k, v)
    val part = Seq(k)
    val ord = Seq(SortOrder(v, Descending))
    val frame = SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)
    val rn = Alias(WindowExpression(RowNumber(),
      WindowSpecDefinition(part, ord, frame)), "rn")()
    def planWith(inner: LogicalPlan): LogicalPlan =
      Filter(LessThanOrEqual(rn.toAttribute, Literal(3)),
        LWindow(Seq(rn), part, ord, inner))
    def wglAfter(p: LogicalPlan): Seq[WindowGroupLimit] =
      RankLimitRewrite(p).collect { case w: WindowGroupLimit => w }
    def rewrote(p: LogicalPlan): Boolean =
      RankLimitRewrite(p).collect {
        case t: graft.plans.TopKPerKeyLogical => t }.nonEmpty

    // matching spec, same limit → safe to strip (subsumed by top-k)
    val same = planWith(WindowGroupLimit(part, ord, RowNumber(), 3, rel))
    assert(rewrote(same) && wglAfter(same).isEmpty)
    // mismatched order spec → must be kept (it prunes a DIFFERENT set)
    val flipped = planWith(
      WindowGroupLimit(part, Seq(SortOrder(v, Ascending)), RowNumber(), 3, rel))
    assert(rewrote(flipped) && wglAfter(flipped).nonEmpty,
      "a WindowGroupLimit with a different spec must survive the rewrite")
    // tighter limit (from some other predicate) → must be kept
    val tighter = planWith(WindowGroupLimit(part, ord, RowNumber(), 2, rel))
    assert(rewrote(tighter) && wglAfter(tighter).nonEmpty,
      "a stricter WindowGroupLimit must survive — stripping it would re-admit rows")
    // looser limit → safe to strip
    val looser = planWith(WindowGroupLimit(part, ord, RowNumber(), 5, rel))
    assert(rewrote(looser) && wglAfter(looser).isEmpty)
  }

  test("non-top-k rank predicates are left alone") {
    GraftExtensions.install(spark)
    val df = ranked.filter(col("rn") === 2) // 2nd-best only: not top-k
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("FinalTopK"), plan)
    assert(df.collect().forall(_.getAs[Int]("rn") == 2))
  }
}
