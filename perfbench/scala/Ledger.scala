package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed region of harness code.  Spans nest; every Spark job run
  * while a span is open carries the span's job group, so jobs become the
  * span's children in the ledger.  Spans stay in memory until the run
  * ends.
  */
final class Span(val id: Int, val parent: Int, val kind: String,
    val key: String, val startNs: Long, val startMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
  def group: String = Spans.groupOf(id)
}

final class Spans(sc: () => SparkContext) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def all: Seq[Span] = buf.toSeq

  /** Run `body` inside a new span under the innermost open span.  The
    * span's job group is set for the duration and the enclosing group is
    * restored afterwards, also when `body` throws.
    */
  def apply[T](kind: String, key: String)(body: => T): T =
    open(kind, key)(_ => body)

  /** Like `apply`, returning the closed span. */
  def span(kind: String, key: String)(body: => Unit): Span =
    open(kind, key) { s => body; s }

  private def open[T](kind: String, key: String)(body: Span => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = new Span(buf.size, parent, kind, key, System.nanoTime(),
      System.currentTimeMillis())
    buf += s
    stack = s :: stack
    val ctx = sc()
    val prev = ctx.getLocalProperty(Spans.GroupKey)
    ctx.setJobGroup(s.group, s"$kind $key", interruptOnCancel = false)
    try body(s)
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      if (prev == null) ctx.clearJobGroup()
      else ctx.setJobGroup(prev, "", interruptOnCancel = false)
    }
  }

  def children(id: Int): Seq[Span] = buf.filter(_.parent == id).toSeq

  /** Span time not covered by child spans. */
  def selfSeconds(s: Span): Double =
    s.seconds - children(s.id).map(_.seconds).sum
}

object Spans {
  val GroupKey = "spark.jobGroup.id"
  private val Prefix = "perfbench-span-"
  def groupOf(id: Int): String = Prefix + id
  def spanOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith(Prefix))
      .map(_.stripPrefix(Prefix).toInt)
}

/** What the ledger keeps of one Spark job. */
final class JobRec(val id: Int, val group: String, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var schedulerDelayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var input = 0L
  var spill = 0L
  var gcMs = 0L
}

/** Per-micro-batch progress as the streaming engine reports it. */
final case class BatchProgress(queryId: String, batchId: Long,
    startMs: Long, durationMs: Map[String, Long], inputRows: Long)

/** The traced run's ledger: a [[SparkListener]] that keeps jobs, stages
  * and task metrics, and a [[StreamingQueryListener]] that keeps each
  * micro-batch's per-phase `durationMs`.  Both only record; all
  * aggregation happens after the run.
  */
final class Ledger extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private var callbackNs = 0L

  private def timed(f: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    f
    callbackNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    val group = props.map(_.getProperty(Spans.GroupKey)).orNull
    val j = new JobRec(e.jobId, group, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      val info = e.taskInfo
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.input += m.inputMetrics.bytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.gcMs += m.jvmGCTime
    }
  }

  def jobList: Seq[JobRec] = synchronized(jobs.values.toSeq)
  def callbackSeconds: Double = synchronized(callbackNs / 1e9)
}

final class StreamingLedger extends StreamingQueryListener {
  private val progress = mutable.ArrayBuffer.empty[BatchProgress]
  private val terminated = mutable.Set.empty[String]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      progress += BatchProgress(p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows)
    }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    synchronized { terminated += e.id.toString; notifyAll() }

  def terminatedCount: Int = synchronized(terminated.size)

  /** Wait until `n` queries have terminated; returns all progress.
    * Events reach a listener in order, so a terminated query's progress
    * events are all in.
    */
  def awaitTerminations(n: Int, timeoutMs: Long = 60000L): Seq[BatchProgress] = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (terminated.size < n && System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    if (terminated.size < n)
      throw new IllegalStateException(s"only ${terminated.size} of $n queries reported termination")
    progress.toSeq
  }
}

/** Files and bytes of every file write the session commits, from the
  * write command's metrics.
  */
final class WriteLedger extends org.apache.spark.sql.util.QueryExecutionListener {
  private var files = 0L
  private var bytes = 0L

  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
    // an eagerly run write command hides under CommandResultExec
    val plan = qe.executedPlan match {
      case c: org.apache.spark.sql.execution.CommandResultExec => c.commandPhysicalPlan
      case p => p
    }
    val writes = plan.collect {
      case p if p.metrics.contains("numFiles") => p.metrics
    }
    synchronized {
      writes.foreach { m =>
        files += m("numFiles").value
        bytes += m.get("numOutputBytes").map(_.value).getOrElse(0L)
      }
    }
  }

  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()

  def totals: (Long, Long) = synchronized((files, bytes))
}

/** Samples the stack of the streaming query's execution thread while a
  * traced CDC run is timed, and keeps the sink step each sample was in.
  * The stream engine stamps every job of a query with the query's start
  * call site, so jobs cannot be attributed to sink steps by call site;
  * the live stack of the thread running the batch body can.
  */
final class StepSampler(intervalMs: Long = 5L) {
  private val samples = mutable.ArrayBuffer.empty[(Long, String)]
  @volatile private var running = true
  @volatile private var rounds = 0L
  private val t0 = System.nanoTime()
  @volatile private var t1 = t0

  private val thread = new Thread("perfbench-step-sampler") {
    override def run(): Unit = {
      var root = Thread.currentThread.getThreadGroup
      while (root.getParent != null) root = root.getParent
      val threads = new Array[Thread](1024)
      while (running) {
        val now = System.currentTimeMillis()
        val n = root.enumerate(threads, true)
        (0 until n).map(threads(_))
          .filter(_.getName.startsWith("stream execution thread"))
          .foreach { t =>
            StepSampler.raw(t.getStackTrace)
              .foreach(r => samples.synchronized(samples += ((now, r))))
          }
        rounds += 1
        Thread.sleep(intervalMs)
      }
      t1 = System.nanoTime()
    }
  }
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = { running = false; thread.join() }

  /** Milliseconds one sample stands for: the measured sampling period. */
  def interval: Double = if (rounds == 0) 0.0 else (t1 - t0) / 1e6 / rounds

  def all: Seq[(Long, String)] = samples.synchronized(samples.toSeq)
}

object StepSampler {
  /** The innermost sink frame of a stack, as a raw step: `log`,
    * `late_split`, `merge`, `topo_write`, `topo_collect` or `topo`.
    * None outside the batch body.
    */
  def raw(st: Array[StackTraceElement]): Option[String] = {
    st.indices.iterator.map { i =>
      val f = st(i)
      val c = f.getClassName
      val m = f.getMethodName
      if (c.startsWith("graft.ops.LogSink")) Some("log")
      else if (!c.startsWith("graft.")) None
      else if (m.contains("lateDataSplit")) Some("late_split")
      else if (m.contains("carryForwardRetention") || m.contains("upsertBatchImpl")) Some("merge")
      else if (m.contains("consumerTopology")) {
        val callee = if (i > 0) st(i - 1) else f
        Some(if (callee.getClassName.endsWith("DataFrameWriter")) "topo_write"
             else if (callee.getMethodName == "collect") "topo_collect"
             else "topo")
      } else None
    }.collectFirst { case Some(s) => s }
  }
}
