package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._

/** One timed interval: a workload, pass, operation or layer call recorded
  * by the benchmark, or a job or stage recorded from listener events.
  * Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

/** Spans and engine counters for one run.
  *
  * The benchmark opens a span around every call it makes into a layer.
  * The innermost open span's id travels to the engine as a Spark local
  * property, so every job is parented to the layer call (and operation)
  * that submitted it; pool threads the program starts inherit the
  * property. Streaming jobs run on the query's own thread: they are
  * matched through the query run id (Spark's job group for stream jobs)
  * to the micro-batch span the client has open for that query.
  *
  * With `enabled` false nothing is recorded and no listener is attached;
  * spans are still timed so the caller gets its durations back.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val closed = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  /** Time `f` as a span of `kind`; returns its result and duration (s). */
  def span[T](kind: String, name: String)(f: => T): (T, Double) = {
    val id = ids.incrementAndGet()
    val stack = open.get
    val parent = stack.headOption.getOrElse(0L)
    val prev = if (enabled) sc.getLocalProperty(SpanKey) else null
    if (enabled) sc.setLocalProperty(SpanKey, id.toString)
    open.set(id :: stack)
    val start = nowMs
    try {
      val r = f
      val end = nowMs
      if (enabled) closed.synchronized(closed += Span(id, parent, kind, name, start, end))
      (r, (end - start) / 1000.0)
    } finally {
      open.set(stack)
      if (enabled) sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Physical plan text sizes (KB) of the plans the benchmark timed. */
  val planKb = mutable.Buffer.empty[Double]

  /** The id of the innermost span open on this thread (0 if none). */
  def current: Long = open.get.headOption.getOrElse(0L)

  // ---- engine side --------------------------------------------------

  /** Stream run id -> the span the client holds open for that query. */
  val streamSpan = new ConcurrentHashMap[String, AtomicReference[java.lang.Long]]()

  final class JobRec(val id: Int, val span: Long, val desc: String, val start: Double) {
    @volatile var end: Double = Double.NaN
    val stages = mutable.ArrayBuffer.empty[Int]
  }
  final class StageRec(val id: Int, val span: Long) {
    var start = Double.NaN
    var end = Double.NaN
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  final class Counters {
    var tasks, taskMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    var readBytes, readRows, writeBytes, tasksFailed, peakMem = 0L
  }
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  /** Engine counters per span id (the span that submitted the work). */
  val counters = new ConcurrentHashMap[Long, Counters]()
  val stageRetries = new AtomicLong(0)
  private val eventsSeen = new AtomicLong(0)
  /** Time spent in the tracer's own listener callbacks. */
  val busyNs = new AtomicLong(0)
  private def counted(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    eventsSeen.incrementAndGet()
    try f finally busyNs.addAndGet(System.nanoTime() - t0)
  }

  /** The span a job belongs to: for a stream's job, the micro-batch span
    * open for that stream (its thread inherited whatever span was open
    * when the query started); otherwise the span open on the submitting
    * thread. */
  private def spanOf(props: java.util.Properties): Long =
    if (props == null) 0L
    else Option(props.getProperty("spark.jobGroup.id")).flatMap(g => Option(streamSpan.get(g)))
      .flatMap(ref => Option(ref.get)).map(_.longValue)
      .orElse(Option(props.getProperty(SpanKey)).map(_.toLong))
      .getOrElse(0L)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = counted {
      val span = spanOf(e.properties)
      if (span != 0L) {
        val desc = Option(e.properties.getProperty("spark.job.description")).getOrElse("")
        val j = new JobRec(e.jobId, span, desc, e.time.toDouble)
        j.stages ++= e.stageIds
        jobs.put(e.jobId, j)
        e.stageIds.foreach(s => stageSpan.put(s, span))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = counted {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = counted {
      val span = stageSpan.get(e.stageInfo.stageId)
      if (span != null) {
        if (e.stageInfo.attemptNumber() > 0) stageRetries.incrementAndGet()
        val s = stages.computeIfAbsent(e.stageInfo.stageId, id => new StageRec(id, span))
        s.synchronized { if (s.start.isNaN) s.start = e.stageInfo.submissionTime.map(_.toDouble).getOrElse(nowMs) }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = counted {
      Option(stages.get(e.stageInfo.stageId)).foreach { s =>
        s.synchronized { s.end = e.stageInfo.completionTime.map(_.toDouble).getOrElse(nowMs) }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = counted {
      val span = stageSpan.get(e.stageId)
      if (span != null) {
        val c = counters.computeIfAbsent(span.longValue, _ => new Counters)
        val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          if (e.reason != Success) c.tasksFailed += 1
          if (m != null) {
            c.taskMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            c.readBytes += m.inputMetrics.bytesRead
            c.readRows += m.inputMetrics.recordsRead
            c.writeBytes += m.outputMetrics.bytesWritten
            c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
          }
        }
        Option(stages.get(e.stageId)).foreach { s =>
          s.synchronized { s.taskMs += e.taskInfo.duration }
        }
      }
    }
  }

  /** Wait until the listener has been quiet for `quietMs` (events are
    * delivered asynchronously; every event of a finished action is already
    * queued when the action returns). */
  def drain(quietMs: Long = 300, maxMs: Long = 10000): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + maxMs
    var last = eventsSeen.get
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
      System.currentTimeMillis() - quietSince < quietMs) {
      Thread.sleep(50)
      val n = eventsSeen.get
      if (n != last) { last = n; quietSince = System.currentTimeMillis() }
    }
  }

  def spans: Seq[Span] = closed.synchronized(closed.toList)

  /** Job and stage spans, from the listener records. */
  def engineSpans: Seq[Span] = {
    val js = jobs.values.asScala.filter(!_.end.isNaN).map(j =>
      Span(-j.id - 1L, j.span, "job", j.desc, j.start, j.end)).toSeq
    val jobOfStage = jobs.values.asScala.flatMap(j => j.stages.map(_ -> j.id)).toMap
    val ss = stages.values.asScala.filter(s => !s.start.isNaN && !s.end.isNaN).flatMap { s =>
      jobOfStage.get(s.id).map(j => Span(-1000000000L - s.id, -j - 1L, "stage", s.id.toString,
        s.start, s.end))
    }.toSeq
    js ++ ss
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover. */
  def selfTimes(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      s.id -> math.max(0.0, s.dur - covered(iv))
    }.toMap
  }
}

/** Counts engine log events at ERROR level (Log4j 2, the engine's logger). */
object ErrorLog {
  val count = new AtomicLong(0)
  def install(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    LogManager.getContext(false) match {
      case ctx: LoggerContext =>
        val app = new AbstractAppender("perfbench-errors", null, null, true, Property.EMPTY_ARRAY) {
          override def append(e: LogEvent): Unit =
            if (e.getLevel.isMoreSpecificThan(Level.ERROR)) count.incrementAndGet()
        }
        app.start()
        ctx.getConfiguration.getRootLogger.addAppender(app, Level.ERROR, null)
        ctx.updateLoggers()
      case _ => ()
    }
  }
}
