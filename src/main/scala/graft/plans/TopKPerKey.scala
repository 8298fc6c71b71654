package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Custom whole-operator: top-k rows per key.
  *
  * The built-in formulation — `row_number().over(Window.partitionBy(key)
  * .orderBy(o))` then `filter(rn <= k)` — shuffles EVERY row to its key's
  * partition and fully sorts each group before discarding all but k.
  * This operator keeps a bounded k-heap per key on each input partition
  * (map side), so the exchange moves at most k·|keys-per-partition| rows
  * and nothing large is ever globally sorted — the same partial/final
  * shape as aggregation, applied to top-k. At 100 TB with k=5 this is
  * the difference between shuffling the corpus and shuffling the answer.
  *
  * Memory safety at scale:
  *  - the PARTIAL phase flushes its per-key map whenever it holds
  *    [[BoundedTopK.FlushKeys]] keys and starts a fresh one — top-k is
  *    idempotent (topk(topk(x) ∪ topk(y)) == topk(x ∪ y)), so chunked
  *    partial output stays correct while memory stays bounded at
  *    O(FlushKeys · k) rows regardless of per-partition key cardinality;
  *  - the FINAL phase holds NO map at all: it requires input sorted by
  *    (key, order) — satisfied by a spillable SortExec that Spark
  *    inserts — and streams, emitting the first k rows of each group.
  *
  * Semantics match the window formulation exactly when the ordering is
  * total (tie-broken), which every graft query guarantees.
  */
case class TopKPerKeyLogical(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan =
    copy(child = c)
}

/** Per-partition bounded top-k with chunked flushing (map side). */
private[plans] object BoundedTopK {

  /** Max distinct keys held before a partial map is flushed downstream.
    * Bounds partial-phase memory at O(FlushKeys · k) retained rows.
    */
  val FlushKeys: Int = 1 << 20

  def perKey(iter: Iterator[InternalRow], keys: Seq[Expression],
      order: Seq[SortOrder], k: Int, output: Seq[Attribute],
      flushKeys: Int = FlushKeys): Iterator[InternalRow] = {
    require(flushKeys > 0, s"flushKeys must be positive, got $flushKeys")
    val keyProj = UnsafeProjection.create(keys, output)
    val ord = new LazilyGeneratedOrdering(order, output)
    new Iterator[InternalRow] {
      private var out: Iterator[InternalRow] = Iterator.empty
      // a row whose (new) key did not fit in the flushed chunk's map —
      // it opens the next chunk
      private var pending: InternalRow = null
      private def refill(): Unit = {
        val heaps =
          mutable.LinkedHashMap.empty[UnsafeRow, mutable.ArrayBuffer[InternalRow]]
        var full = false
        while (!full && (pending != null || iter.hasNext)) {
          val row =
            if (pending != null) { val r = pending; pending = null; r }
            else iter.next()
          val kr = keyProj(row)
          val existing = heaps.get(kr)
          if (existing.isEmpty && heaps.size >= flushKeys) {
            pending = row.copy() // flush; this row starts the next chunk
            full = true
          } else {
            val buf = existing.getOrElse {
              val b = mutable.ArrayBuffer.empty[InternalRow]
              heaps.put(kr.copy(), b)
              b
            }
            if (buf.length < k) {
              buf += row.copy()
              if (buf.length == k) buf.sortInPlace()(ord)
            } else if (ord.compare(row, buf.last) < 0) {
              buf(k - 1) = row.copy()
              buf.sortInPlace()(ord)
            }
          }
        }
        out = heaps.valuesIterator.flatMap(b => b.sortInPlace()(ord).iterator)
      }
      override def hasNext: Boolean = {
        while (!out.hasNext && (pending != null || iter.hasNext)) refill()
        out.hasNext
      }
      override def next(): InternalRow = { hasNext; out.next() }
    }
  }
}

case class PartialTopKExec(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions(BoundedTopK.perKey(_, keys, order, k, child.output))
  override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
    copy(child = c)
}

/** Streaming final pass: input is clustered on the keys and sorted by
  * (keys, order), so the first k rows of each key group ARE the answer —
  * no per-key state beyond the current group's counter. The sort it
  * requires runs over the partial phase's pruned output (≤ k rows per
  * key per map chunk) in Spark's spillable SortExec, so the final phase
  * cannot OOM no matter how many distinct keys one partition holds.
  */
case class FinalTopKExec(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(keys.map(SortOrder(_, Ascending)) ++ order)
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head
  // partitioning/ordering are preserved, so a Window (or aggregation) on
  // the same keys directly above adds no exchange and no sort
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keys, child.output)
      var curKey: UnsafeRow = null
      var emitted = 0
      iter.filter { row =>
        val kr = keyProj(row)
        if (curKey == null || kr != curKey) { curKey = kr.copy(); emitted = 0 }
        emitted += 1
        emitted <= k
      }
    }
  override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
    copy(child = c)
}

/** Final pass for the k=1, order-is-the-key special case (dedup by id):
  * any row of a key group may survive, so no ordering requirement — a
  * streaming hash filter replaces FinalTopKExec's (key)-sort entirely.
  *
  * Memory: the per-partition set holds one COPY OF THE KEY per distinct
  * key (payload rows are never retained), i.e. O(distinct-keys/partition
  * × key width) — the same asymptotics as Spark's hash aggregate, minus
  * its spill path. For the unique-id dedup this backs, key width is one
  * long or short string; size `spark.sql.shuffle.partitions` so
  * distinct-ids/partition × key-width fits in executor memory (the same
  * sizing rule any hash dedup at 100 TB needs).
  */
case class DistinctByKeyExec(keys: Seq[Expression], child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keys, child.output)
      val seen = new java.util.HashSet[UnsafeRow]()
      iter.filter { row =>
        val kr = keyProj(row) // reused buffer — copy only on first sight
        if (seen.contains(kr)) false
        else { seen.add(kr.copy()); true }
      }
    }
  override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
    copy(child = c)
}

object TopKStrategy extends SparkStrategy {

  /** k=1 with every order column itself a key column: all rows of a
    * group compare equal, so "top-1" is "any one" — sort-free dedup.
    */
  private def isDistinctByKey(keys: Seq[Expression], order: Seq[SortOrder],
      k: Int): Boolean =
    k == 1 && order.forall(o => keys.exists(_.semanticEquals(o.child)))

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyLogical(keys, order, k, child) if isDistinctByKey(keys, order, k) =>
      DistinctByKeyExec(keys,
        PartialTopKExec(keys, order, k, planLater(child))) :: Nil
    case TopKPerKeyLogical(keys, order, k, child) =>
      FinalTopKExec(keys, order, k,
        PartialTopKExec(keys, order, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** User API: `TopK.perKey(df, Seq("key"), Seq($"x".desc, $"id".asc), 5)`.
  * Its logical node plans only under [[TopKStrategy]], so `perKey`
  * installs graft's session set-up itself: the CDC merge reaches it
  * without any query entry point.
  */
object TopK {

  def perKey(df: DataFrame, keyCols: Seq[String], orderSpec: Seq[(String, Boolean)],
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(keyCols.nonEmpty && orderSpec.nonEmpty,
      "top-k per key needs at least one key column and one order column")
    val spark = df.sparkSession
    graft.functions.GraftExtensions.install(spark)
    val child = GraftShim.analyzed(df)
    def attr(name: String): Attribute =
      child.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name in ${child.output.map(_.name)}"))
    val keys = keyCols.map(attr)
    // The partial map and the final streaming pass group by binary
    // UnsafeRow key equality, which splits 0.0 vs -0.0 and distinct NaN
    // bit patterns into separate groups — diverging from groupBy/window
    // semantics, which normalize floats. RankLimitRewrite refuses float
    // keys for the same reason; enforce it here too so the public API
    // cannot silently produce non-normalized grouping.
    keys.find(k => RankLimitRewrite.containsFloat(k.dataType)).foreach { k =>
      throw new IllegalArgumentException(
        s"top-k per key does not support float/double key column ${k.name}: " +
          "binary key grouping would split 0.0/-0.0 and NaN variants; " +
          "cast the key to a non-floating type first")
    }
    val order = orderSpec.map { case (name, asc) =>
      SortOrder(attr(name), if (asc) Ascending else Descending)
    }
    GraftShim.ofRows(spark, TopKPerKeyLogical(keys, order, k, child))
  }
}
