package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, IntegerLiteral, LessThan, LessThanOrEqual, PredicateHelper, RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: `row_number() OVER (PARTITION BY p ORDER BY o)` filtered
  * to `rn <= k` is a top-k-per-key query — rewrite the Window into
  * [[TopKPerKeyLogical]] so the exchange moves k·|keys| rows instead of the
  * whole input, and the full per-group sort disappears.
  *
  * The Window node is KEPT on top of the top-k operator so the `rn` column
  * (and the plan's output schema) survive unchanged — but it now runs over
  * ≤ k rows per group, and since [[FinalTopKExec]] emits rows clustered by
  * key and sorted by (key, order), the WindowExec above it adds no exchange
  * and no sort. The limit filter itself is dropped (top-k emits exactly the
  * rows that satisfy it); residual conjuncts are preserved as a Filter.
  *
  * Spark 3.5+ has InferWindowGroupLimit, which prunes rank filters with
  * per-partition group limits but still shuffles every surviving group row
  * and sorts full partitions; this rewrite replaces the shuffle+sort
  * entirely. Only `row_number` is rewritten (rank/dense_rank change row
  * counts under ties); like Spark's own rule, tie behavior on non-total
  * orderings is whatever the engine picks — a total (tie-broken) ordering
  * makes both formulations deterministic and identical.
  */
object RankLimitRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** cond ↦ k such that cond ≡ (rn <= k), if it has that shape. */
  private def limitOf(cond: Expression, rn: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rn) => Some(k)
    case LessThan(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rn) => Some(k - 1)
    case GreaterThanOrEqual(IntegerLiteral(k), a: Attribute) if a.semanticEquals(rn) => Some(k)
    case GreaterThan(IntegerLiteral(k), a: Attribute) if a.semanticEquals(rn) => Some(k - 1)
    case EqualTo(a: Attribute, IntegerLiteral(1)) if a.semanticEquals(rn) => Some(1)
    case EqualTo(IntegerLiteral(1), a: Attribute) if a.semanticEquals(rn) => Some(1)
    case _ => None
  }

  /** Floating-point partition keys are excluded: the top-k operator
    * groups by binary key bytes, so 0.0 vs -0.0 (and NaN bit patterns)
    * would split groups that the Window — whose keys the analyzer
    * normalizes via NormalizeFloatingNumbers — merges, re-admitting
    * rows the dropped rn filter would have removed.
    */
  private[graft] def containsFloat(t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    t match {
      case DoubleType | FloatType => true
      case a: ArrayType => containsFloat(a.elementType)
      case m: MapType => containsFloat(m.keyType) || containsFloat(m.valueType)
      case s: StructType => s.fields.exists(f => containsFloat(f.dataType))
      case _ => false
    }
  }

  private def hasFloatKey(partSpec: Seq[Expression]): Boolean =
    partSpec.exists(e => containsFloat(e.dataType))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond,
        w @ Window(Seq(alias @ Alias(WindowExpression(RowNumber(), _), _)),
          partSpec, orderSpec, child, _))
        if partSpec.nonEmpty && orderSpec.nonEmpty && !hasFloatKey(partSpec) =>
      val rn = alias.toAttribute
      val conjuncts = splitConjunctivePredicates(cond)
      val (limits, residual) = conjuncts.partition(limitOf(_, rn).isDefined)
      val ks = limits.flatMap(limitOf(_, rn))
      if (ks.isEmpty || ks.exists(_ < 1) || residual.exists(_.references.contains(rn))) {
        f // not a pure top-k filter on rn — leave it alone
      } else {
        // if Spark's InferWindowGroupLimit already ran (it has when
        // GraftExtensions.install added this rule, which then runs in the
        // optimizer's last batch; the extension class runs it earlier), its
        // pruning node is subsumed by the top-k operator — strip it, but
        // ONLY when it provably prunes less than (or exactly) what top-k
        // keeps: same partition/order spec, row_number semantics, and a
        // limit no tighter than ours. A mismatched node (different spec or
        // stricter limit from some other predicate) must stay, else rows
        // it pruned would be re-admitted.
        def sameSpec(a: Seq[Expression], b: Seq[Expression]): Boolean =
          a.length == b.length &&
            a.zip(b).forall { case (x, y) => x.semanticEquals(y) }
        val source = child match {
          case WindowGroupLimit(ps2, os2, RowNumber(), limit, inner)
              if sameSpec(ps2, partSpec) && sameSpec(os2, orderSpec) &&
                limit >= ks.min => inner
          case c => c
        }
        val topk = w.copy(child =
          TopKPerKeyLogical(partSpec, orderSpec, ks.min, source))
        if (residual.isEmpty) topk
        else Filter(residual.reduce(org.apache.spark.sql.catalyst.expressions.And), topk)
      }
  }
}
