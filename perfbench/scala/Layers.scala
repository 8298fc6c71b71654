package perfbench

import scala.collection.mutable

/** Per-layer figures of a traced run, derived after the run from the
  * spans, the Spark job ledger and the streaming progress events.
  */
object Layers {

  /** Milliseconds covered by the union of the intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    intervals.filter { case (a, b) => b >= a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  /** Jobs that ran under `span`: tagged with its job group, or untagged
    * and started inside its window (jobs a library call submits from a
    * thread that does not inherit the harness's job group).
    */
  def jobsOf(ctx: Ctx, span: Span): Seq[JobRec] =
    ctx.ledger.jobList.filter { j =>
      j.group == span.group || (Spans.spanOf(j.group).isEmpty &&
        j.startMs >= span.startMs && j.startMs <= span.endMs)
    }

  /** Sink step of each stack sample inside one batch body, in time
    * order.  The first writes of the consumer topology decode the wire
    * (the dead-letter tee is written from that decode); once the late
    * split ran, its writes are the late ledger.
    */
  def steps(raw: Seq[String]): Seq[String] = {
    var late = false
    raw.map {
      case "late_split"   => late = true; "late_split"
      case "topo_write"   => if (late) "late_split" else "decode"
      case "topo_collect" => "demux"
      case "topo"         => if (late) "demux" else "decode"
      case other          => other
    }
  }

  /** Figures of one CDC phase under `prefix`: the streaming engine's
    * phases, jobs and driver time per batch, sink steps from the stack
    * samples, and what the sink wrote (`writes` = files, bytes).
    */
  def streaming(ctx: Ctx, prefix: String, batches: Seq[BatchProgress], spans: Seq[Span],
      sinkDir: String, wireBytes: Long, writes: (Long, Long)): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    def d(p: BatchProgress, k: String) = p.durationMs.getOrElse(k, 0L)
    val n = math.max(1, batches.size)
    out(s"$prefix.engine_s") =
      batches.map(p => d(p, "triggerExecution") - d(p, "addBatch")).sum / 1000.0
    out(s"$prefix.body_s") = batches.map(d(_, "addBatch")).sum / 1000.0
    val stepMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val samples = Option(ctx.sampler).map(_.all).getOrElse(Nil)
    val interval = Option(ctx.sampler).map(_.interval).getOrElse(0.0)
    var jobs = 0L
    var tasks = 0L
    var gapMs = 0L
    spans.foreach { s =>
      val js = jobsOf(ctx, s)
      jobs += js.size
      tasks += js.map(_.tasks.toLong).sum
      gapMs += math.max(0L, (s.endMs - s.startMs) - covered(js.map(j => (j.startMs, j.endMs))))
      val inside = samples.filter { case (t, _) => t >= s.startMs && t <= s.endMs }
      steps(inside.map(_._2)).foreach(st => stepMs(st) += interval)
    }
    out(s"$prefix.driver_gap_s") = gapMs / 1000.0
    out(s"$prefix.jobs_per_batch") = jobs.toDouble / n
    out(s"$prefix.tasks_per_batch") = tasks.toDouble / n
    Seq("decode", "late_split", "demux", "merge").foreach { st =>
      out(s"$prefix.${st}_s") = stepMs(st) / 1000.0
    }
    out(if (prefix == "streaming") "ops.log_s" else s"$prefix.log_s") = stepMs("log") / 1000.0
    val (files, written) = writes
    out(s"$prefix.files_written") = files.toDouble
    out(s"$prefix.bytes_written") = written.toDouble
    out(s"$prefix.state_bytes") = Cdc.dirBytes(s"$sinkDir/state").toDouble
    out(s"$prefix.write_amp") = if (wireBytes == 0) 0.0 else written.toDouble / wireBytes
    out.toMap
  }

  def catalog(ctx: Ctx): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val spans = ctx.spans.all
    val byGroup = ctx.ledger.jobList.groupBy(_.group)
    def jobsUnder(s: Span): Int =
      byGroup.get(s.group).map(_.size).getOrElse(0) +
        ctx.spans.children(s.id).map(jobsUnder).sum
    spans.filter(_.kind == "family").foreach { f =>
      val qs = ctx.spans.children(f.id).filter(_.kind == "query")
      out(s"catalog.${f.key}_s") = qs.map(_.seconds).sum
      out(s"catalog.${f.key}_jobs") = qs.map(jobsUnder).sum.toDouble
    }
    out("catalog.build_s") = spans.filter(_.kind == "build").map(_.seconds).sum
    out("catalog.exec_s") = spans.filter(_.kind == "exec").map(_.seconds).sum
    out("cachepool.release_s") = spans.filter(_.kind == "release").map(_.seconds).sum
    // the first query of a family builds its shared relations; the ones
    // after it run while CachePool still holds them
    val (first, rest) = spans.filter(_.kind == "family").map { f =>
      val qs = ctx.spans.children(f.id).filter(_.kind == "query").map(_.seconds)
      (qs.headOption.getOrElse(0.0), qs.drop(1).sum)
    }.unzip
    out("cachepool.family_first_s") = first.sum
    out("cachepool.family_rest_s") = rest.sum
    out("cachepool.cached_bytes_peak") = ctx.cachedPeak.toDouble
    out.toMap
  }

  /** Totals over every job of the timed region. */
  def spark(ctx: Ctx): Map[String, Double] = {
    val js = ctx.ledger.jobList
    val wall = ctx.timedSeconds
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.map(_.stages).sum.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.task_busy_ratio" ->
        (if (wall <= 0) 0.0 else js.map(_.runMs).sum / 1000.0 / (wall * ctx.cores)),
      "spark.scheduler_delay_s" -> js.map(_.schedulerDelayMs).sum / 1000.0,
      "spark.shuffle_write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> js.map(_.shuffleRead).sum.toDouble,
      "spark.input_bytes" -> js.map(_.input).sum.toDouble,
      "spark.spill_bytes" -> js.map(_.spill).sum.toDouble,
      "spark.gc_s" -> js.map(_.gcMs).sum / 1000.0)
  }
}
