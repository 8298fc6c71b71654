package perfbench

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

import graft.{CachePool, SparkEntry}

/** `catalog`: library queries run as one session pass in name order,
  * each written to its full result through the `noop` sink.  The row
  * count is observed inside that write, so no second pass runs.
  */
object Catalog {

  /** The reporting family of a query: every `q<digits>_*` TPC-H query
    * shares "q", every other query reports under its name's prefix (the
    * rule `graft.Bench` releases the cache pool by).
    */
  def family(name: String): String = {
    val fam = name.takeWhile(_ != '_')
    if (fam.length > 1 && fam.head == 'q' && fam.tail.forall(_.isDigit)) "q"
    else fam
  }

  def run(ctx: Ctx, names: Seq[String]): Unit = {
    val spark = ctx.spark
    val fns = SparkEntry.queries
    val order = names.sorted
    val families = order.map(family).distinct
    families.foreach { fam =>
      val qs = order.filter(n => family(n) == fam)
      ctx.spans("family", fam) {
        qs.foreach { name =>
          var rows = -1L
          var err: String = null
          var build: Span = null
          var exec: Span = null
          val q = ctx.spans.span("query", name) {
            try {
              var df: DataFrame = null
              build = ctx.spans.span("build", name) { df = fns(name)(spark, ctx.corpus) }
              val obs = Observation(s"perfbench_rows_${ctx.spans.all.size}")
              exec = ctx.spans.span("exec", name) {
                df.observe(obs, count(lit(1)).as("rows"))
                  .write.format("noop").mode("overwrite").save()
              }
              rows = Await.result(obs.future, 60.seconds).getAs[Long]("rows")
            } catch { case e: Exception => err = Main.describe(e) }
          }
          ctx.op("query", name, q.seconds, err, Map(
            "family" -> fam, "rows" -> rows,
            "build_s" -> Option(build).map(_.seconds).getOrElse(0.0),
            "exec_s" -> Option(exec).map(_.seconds).getOrElse(0.0)))
        }
        if (ctx.trace) ctx.cachedPeak = math.max(ctx.cachedPeak, cachedBytes(ctx))
        ctx.spans("release", fam) { CachePool.releaseAll() }
      }
    }
    ctx.timedEnd()
    if (ctx.trace) ctx.layers ++= Layers.catalog(ctx)
  }

  /** Warms scans, joins, aggregation, windows and the `noop` writer on
    * the corpus views, with no library query involved.
    */
  def warm(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sql("""SELECT o_orderpriority, l_returnflag, sum(l_extendedprice) AS rev,
        rank() OVER (PARTITION BY o_orderpriority ORDER BY sum(l_extendedprice) DESC) AS r
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority, l_returnflag""")
      .write.format("noop").mode("overwrite").save()

  /** Storage memory plus disk of every cached RDD right now. */
  private def cachedBytes(ctx: Ctx): Long =
    ctx.spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
