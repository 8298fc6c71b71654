package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** State of one benchmark run inside the JVM. */
final class Ctx(opts: Map[String, String]) {
  val workload: String = opts("workload")
  val seed: Long = opts("seed").toLong
  val trace: Boolean = opts("trace") == "1"
  val cores: Int = opts("cores").toInt
  val work: String = opts("work")
  val corpus: String = opts.getOrElse("corpus", "")

  var spark: SparkSession = _
  val spans = new Spans(() => spark.sparkContext)
  val ledger = new Ledger
  val streamLedger = new StreamingLedger
  val layers: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  var cachedPeak = 0L
  val writes = new WriteLedger
  var sampler: StepSampler = _

  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val e2eVals = mutable.LinkedHashMap.empty[String, Double]
  private var startNs = -1L
  private var endNs = -1L

  def op(kind: String, name: String, seconds: Double, error: String,
      extra: Map[String, Any] = Map.empty): Unit =
    ops += Map("kind" -> kind, "name" -> name, "seconds" -> seconds,
      "error" -> error) ++ extra

  def check(c: (String, Boolean, String)): Unit =
    checks += Map("name" -> c._1, "ok" -> c._2, "detail" -> c._3)

  def e2e(name: String, v: Double): Unit = e2eVals(name) = v

  /** Wall-clock milliseconds at the start of the timed region. */
  var timedStartMs = -1L

  def timedSeconds: Double = (endNs - startNs) / 1e9

  /** Starts the timed region; a traced run attaches its listeners. */
  def timedStart(): Unit = {
    if (trace) {
      spark.sparkContext.addSparkListener(ledger)
      spark.listenerManager.register(writes)
      if (workload == "cdc") sampler = new StepSampler()
    }
    timedStartMs = System.currentTimeMillis()
    startNs = System.nanoTime()
  }

  /** Ends the timed region (once) and completes the ledger. */
  def timedEnd(): Unit = if (endNs < 0) {
    endNs = System.nanoTime()
    if (sampler != null) sampler.stop()
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
    if (trace) {
      spark.sparkContext.removeSparkListener(ledger)
      spark.listenerManager.unregister(writes)
    }
  }

  def result(extra: Map[String, Any]): Map[String, Any] = Map(
    "workload" -> workload, "seed" -> seed, "cores" -> cores,
    "trace" -> trace, "timed_start_ms" -> timedStartMs, "timed_s" -> timedSeconds,
    "ops" -> ops.toSeq, "checks" -> checks.toSeq, "e2e" -> e2eVals,
    "layers" -> layers) ++ extra
}

object Main {
  val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")
    s"${e.getClass.getName}: $msg"
  }

  private def session(ctx: Ctx): SparkSession = {
    val s = SparkSession.builder()
      .appName(s"perfbench-${ctx.workload}")
      .master(s"local[${ctx.cores}]")
      .config("spark.sql.shuffle.partitions", ctx.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${ctx.work}/local")
      .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The load-calibration task of `graft.Bench`: a pure codegen range
    * sum, no IO, no shuffle.  Its time tracks how loaded the host is.
    */
  private def calib(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(1L << 24).selectExpr("sum(id * 3)").collect()
    (System.nanoTime() - t0) / 1e6
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val opts = parse(args)
    val ctx = new Ctx(opts)
    val out = opts("out")
    val cdc = ctx.workload == "cdc"
    var mbMsgs, bfMsgs: Array[Msg] = null
    var queries: Seq[String] = Nil
    val mbDir = s"${ctx.work}/mb_feed"
    val bfDir = s"${ctx.work}/bf_feed"

    // set-up, once and cold: session and inputs
    val setup = mutable.LinkedHashMap.empty[String, Double]
    def part(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      setup(name) = (System.nanoTime() - t0) / 1e9
    }
    part("session") { ctx.spark = session(ctx) }
    val spark = ctx.spark
    if (cdc) part("feeds") {
      mbMsgs = Cdc.readFeed(opts("mb-feed"))
      bfMsgs = Cdc.readFeed(opts("bf-feed"))
      Cdc.writeFeed(spark, mbMsgs, mbDir)
      Cdc.writeFeed(spark, bfMsgs, bfDir)
    } else part("catalog") {
      queries = Files.readAllLines(Paths.get(opts("queries")), UTF_8).asScala
        .map(_.trim).filter(_.nonEmpty).toSeq
      graft.GraftSession.attach(spark, ctx.corpus, Seq("lineitem", "orders"))
      // one warm pass of the query paths (the CDC workload's cold start
      // is its first micro-batch, timed apart)
      Catalog.warm(spark)
    }
    spark.streams.addListener(ctx.streamLedger)
    // the first passes of the probe compile its own code path
    part("calib") { calib(spark); calib(spark) }
    val calibBefore = calib(spark)

    var fatal: String = null
    var checkS = 0.0
    ctx.timedStart()
    try ctx.workload match {
      case "cdc" =>
        val mb = Cdc.microbatch(ctx, mbDir)
        val bf = Cdc.backfill(ctx, bfMsgs, bfDir, opts("lookups").toInt)
        ctx.timedEnd()
        if (ctx.trace) ctx.layers ++= Layers.spark(ctx)
        val t0 = System.nanoTime()
        Cdc.checkMicrobatch(ctx, mb, mbMsgs)
        Cdc.checkBackfill(ctx, bf, bfMsgs)
        checkS = (System.nanoTime() - t0) / 1e9
      case "catalog" =>
        Catalog.run(ctx, queries)
        if (ctx.trace) ctx.layers ++= Layers.spark(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch { case e: Exception => fatal = describe(e) }
    ctx.timedEnd()
    val calibAfter = calib(spark)

    val res = ctx.result(Map(
      "jvm_main_ms" -> mainMs, "setup_parts_s" -> setup, "check_s" -> checkS,
      "calib_ms" -> Seq(calibBefore, calibAfter),
      "peak_rss_mb" -> peakRssMb(), "fatal" -> fatal,
      "trace_callback_s" -> ctx.ledger.callbackSeconds,
      "span_self_s" -> ctx.spans.all.groupBy(_.kind).map { case (k, ss) =>
        k -> ss.map(ctx.spans.selfSeconds).sum }))
    Files.write(Paths.get(out), Main.json.writeValueAsBytes(res))
    val t1 = System.nanoTime()
    spark.stop()
    System.err.println(f"[perfbench] spark.stop ${(System.nanoTime() - t1) / 1e9}%.1f s")
  }
}
