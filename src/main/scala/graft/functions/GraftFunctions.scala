package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

import graft.functions.expressions.{ArrayIntersectSize, CosineSimilarity, L2DistanceSq}
import graft.plans.{RankLimitRewrite, TopKStrategy}

/** graft's native Catalyst expressions, one declaration per function.
  *
  * A session gets them, with the top-k strategy and the rank-limit
  * rewrite, through [[GraftExtensions]]: builder-time via
  * `spark.sql.extensions=graft.functions.GraftExtensions`, or
  * `GraftExtensions.install(spark)` on a session that already exists.
  */
object GraftFunctions {

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", (es: Seq[Expression]) => CosineSimilarity(es(0), es(1)),
      "cosine_sim(a, b)", "cosine similarity of two array<double> vectors"),
    ("array_intersect_size", (es: Seq[Expression]) => ArrayIntersectSize(es(0), es(1)),
      "array_intersect_size(a, b)",
      "count of a's elements contained in b (array<string>), hash-probe codegen"),
    ("l2_dist_sq", (es: Seq[Expression]) => L2DistanceSq(es(0), es(1)),
      "l2_dist_sq(a, b)",
      "squared L2 distance of two array<double> vectors, codegen loop")
  ).map { case (name, builder, usage, doc) =>
    (FunctionIdentifier(name),
      new ExpressionInfo("graft.functions.expressions", null, name, usage, doc),
      builder)
  }

  /** Column-API entry points (the session needs GraftExtensions.install). */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def arrayIntersectSize(a: Column, b: Column): Column =
    call_function("array_intersect_size", a, b)
  def l2DistSq(a: Column, b: Column): Column = call_function("l2_dist_sq", a, b)
}

/** graft's whole session set-up: the functions of [[GraftFunctions.all]],
  * the top-k-per-key strategy and the automatic row_number-filter rewrite
  * that targets it. Two forms of the one declaration:
  *  - the class, via `spark.sql.extensions`, for a user who owns the
  *    builder and runs SQL before calling any graft code;
  *  - [[GraftExtensions.install]], called where graft can meet a bare
  *    session: each `SparkEntry.queries` function, `GraftSession.attach`,
  *    `TopK.perKey` and the public operator entry points. Queries and
  *    their helpers never install anything themselves.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(e.injectFunction)
    e.injectPlannerStrategy(_ => TopKStrategy)
    e.injectOptimizerRule(_ => RankLimitRewrite)
  }
}

object GraftExtensions {

  /** Add whatever of graft's set-up the session lacks, counting what the
    * extension class already injected. Idempotent, and safe to call from
    * the concurrent table merges of one micro-batch.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val state = spark.sessionState
    GraftFunctions.all.foreach { case (id, info, builder) =>
      if (!state.functionRegistry.functionExists(id))
        state.functionRegistry.registerFunction(id, info, builder)
    }
    val exp = spark.experimental
    if (!state.planner.strategies.contains(TopKStrategy))
      exp.extraStrategies = exp.extraStrategies :+ TopKStrategy
    if (!(exp.extraOptimizations ++ state.optimizer.extendedOperatorOptimizationRules)
        .contains(RankLimitRewrite))
      exp.extraOptimizations = exp.extraOptimizations :+ RankLimitRewrite
  }
}
