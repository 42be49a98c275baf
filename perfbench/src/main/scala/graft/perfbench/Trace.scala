package graft.perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracing: spans recorded around the benchmark's own calls
  * into the engine, plus what Spark's public listener and metric APIs
  * report. Nothing here reaches into the engine's code.
  *
  * Spans nest op (a query or a tick) → layer call. A span sets the
  * `perfbench.span` local property on its thread, so every Spark job
  * the call submits carries the id of the innermost open span; self
  * time is a span's duration minus what its children cover. Spans
  * and listener records stay in memory until the run ends. Recording
  * is switched per op with `on`, so a traced run can interleave
  * untraced ops and measure the tracing overhead. All times are epoch
  * microseconds. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  @volatile var on = false

  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNano) / 1000L

  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val lock = new Object
  private val spans = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.LinkedHashMap[(Int, Int), Stage]()
  private val planPhases = mutable.ArrayBuffer[(Long, Long)]()
  private val sqlStarts = mutable.Map[Long, Long]()
  private val sqlExecs = mutable.ArrayBuffer[(Long, Long)]()
  private val sentinelsDone = mutable.Set[String]()
  private val jobSentinel = mutable.Map[Int, String]()
  val progress = mutable.ArrayBuffer[StreamingQueryProgress]()

  def span[T](name: String, kind: String)(body: => T): T =
    if (!on) body
    else {
      val outer = stack.get
      val s = new Span(ids.incrementAndGet(), outer.headOption.map(_.id).getOrElse(0),
        name, kind, nowUs)
      lock.synchronized(spans += s)
      stack.set(s :: outer)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = nowUs
        stack.set(outer)
        sc.setLocalProperty(SpanKey, outer.headOption.map(_.id.toString).orNull)
      }
    }

  private def propInt(p: java.util.Properties, key: String): Int =
    Option(p).flatMap(x => Option(x.getProperty(key))).map(_.toInt).getOrElse(0)

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(SentinelKey)))
        .foreach(t => jobSentinel(e.jobId) = t)
      jobs(e.jobId) = new Job(e.jobId, propInt(e.properties, SpanKey), e.time * 1000L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time * 1000L)
      jobSentinel.remove(e.jobId).foreach(sentinelsDone += _)
      lock.notifyAll()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      val i = e.stageInfo
      stages((i.stageId, i.attemptNumber())) = new Stage(propInt(e.properties, SpanKey),
        i.submissionTime.getOrElse(System.currentTimeMillis()) * 1000L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      for (st <- stages.get((e.stageId, e.stageAttemptId)); m <- Option(e.taskMetrics)) {
        val info = e.taskInfo
        st.tasks += 1
        st.durationsMs += info.duration
        st.waitUs += math.max(0L, info.launchTime * 1000L - st.submitted)
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.inBytes += m.inputMetrics.bytesRead
        st.inRows += m.inputMetrics.recordsRead
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        lock.synchronized(sqlStarts(x.executionId) = x.time * 1000L)
      case x: SparkListenerSQLExecutionEnd => lock.synchronized {
        sqlStarts.remove(x.executionId).foreach(t => sqlExecs += ((t, x.time * 1000L)))
      }
      case _ =>
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      qe.tracker.phases.values.foreach(p =>
        planPhases += ((p.startTimeMs * 1000L, p.endTimeMs * 1000L)))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress }
  })

  /** Blocks until the listener has seen every event posted before the
    * call: a one-task sentinel job's end event arrives after them. */
  def drain(): Unit = {
    val tag = s"sentinel-${ids.incrementAndGet()}"
    sc.setLocalProperty(SentinelKey, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SentinelKey, null)
    val deadline = System.currentTimeMillis() + 60000L
    lock.synchronized {
      while (!sentinelsDone(tag) && System.currentTimeMillis() < deadline) lock.wait(100L)
    }
  }

  // ---- queries over the recorded spans (call after drain) ----

  private def byId: Map[Int, Span] = lock.synchronized(spans.map(s => s.id -> s).toMap)

  def spansOf(kind: String): Seq[Span] = lock.synchronized(spans.filter(_.kind == kind).toSeq)

  private def ancestors(id: Int, m: Map[Int, Span]): List[Span] =
    m.get(id) match {
      case Some(s) => s :: ancestors(s.parent, m)
      case None => Nil
    }

  private def under(spanId: Int, kind: String, m: Map[Int, Span]): Boolean =
    ancestors(spanId, m).exists(_.kind == kind)

  private def underSpan(spanId: Int, root: Int, m: Map[Int, Span]): Boolean =
    ancestors(spanId, m).exists(_.id == root)

  /** Jobs submitted inside a span of `kind` (at any depth). */
  def jobsIn(kind: String): Seq[Job] = {
    val m = byId
    lock.synchronized(jobs.values.filter(j => under(j.span, kind, m)).toSeq)
  }

  def stagesIn(kind: String): Seq[Stage] = {
    val m = byId
    lock.synchronized(stages.values.filter(s => under(s.span, kind, m)).toSeq)
  }

  /** Sum of span durations of `kind`, in seconds. */
  def seconds(kind: String): Double = spansOf(kind).map(_.seconds).sum

  /** Executor run time of the jobs inside spans of `kind`, in seconds. */
  def runSeconds(kind: String): Double = stagesIn(kind).map(_.runMs).sum / 1e3

  def inputBytes(kind: String): Long = stagesIn(kind).map(_.inBytes).sum

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    c.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }

  /** Planning time (QueryExecution tracker phases) inside the span. */
  def planUs(s: Span): Long = covered(lock.synchronized(planPhases.toSeq), s.start, s.end)

  /** Start-to-end intervals of the jobs submitted in span `s` or in a
    * span below it. */
  private def jobIntervals(s: Span): Seq[(Long, Long)] = {
    val m = byId
    lock.synchronized(jobs.values.filter(j => j.end > 0 && underSpan(j.span, s.id, m))
      .map(j => (j.start, j.end)).toSeq)
  }

  /** Time inside span `s` during which at least one of its jobs was
    * running. */
  def jobUs(s: Span): Long = covered(jobIntervals(s), s.start, s.end)

  /** Execute time inside span `s`, outside planning: while a SQL
    * execution (SparkListenerSQLExecutionStart to End, which covers
    * physical preparation, codegen, job submission and the write
    * commit) or one of the span's jobs was running. */
  def executeUs(s: Span): Long = {
    val plan = lock.synchronized(planPhases.toSeq)
    val exec = lock.synchronized(sqlExecs.toSeq)
    covered(plan ++ exec ++ jobIntervals(s), s.start, s.end) - covered(plan, s.start, s.end)
  }

  /** Time inside span `s` during which none of its jobs was running. */
  def idleUs(s: Span): Long = s.durationUs - jobUs(s)

  /** Every span with the jobs attached to it, for the run's output. */
  def dump(): Seq[Map[String, Any]] = lock.synchronized {
    val jobCount = jobs.values.groupBy(_.span).map { case (k, v) => k -> v.size }
    spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "kind" -> s.kind, "start_us" -> s.start, "dur_us" -> s.durationUs,
      "jobs" -> jobCount.getOrElse(s.id, 0)))
  }

  /** Direct children of span `s`. */
  def children(s: Span): Seq[Span] = lock.synchronized(spans.filter(_.parent == s.id).toSeq)
}

object Trace {
  val SpanKey = "perfbench.span"
  val SentinelKey = "perfbench.sentinel"

  final class Span(val id: Int, val parent: Int, val name: String, val kind: String,
                   val start: Long) {
    @volatile var end: Long = -1L
    def durationUs: Long = end - start
    def seconds: Double = durationUs / 1e6
  }

  final class Job(val id: Int, val span: Int, val start: Long) {
    var end: Long = -1L
  }

  final class Stage(val span: Int, val submitted: Long) {
    var tasks = 0
    val durationsMs = mutable.ArrayBuffer[Long]()
    var waitUs = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var inBytes = 0L
    var inRows = 0L
  }

  /** Whole-stage codegen compiles so far: (count, seconds). */
  def codegen(): (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e9)

  /** Bytes held in block-manager storage (memory + disk) right now —
    * where localCheckpoint'd memo tables live. */
  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Counts ERROR (and worse) log events from every logger. */
  val logErrors = new AtomicLong(0L)

  def installErrorCounter(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val appender = new AbstractAppender("perfbench-errors", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR)) logErrors.incrementAndGet()
    }
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.ERROR, null)
    ctx.updateLoggers()
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
