package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One benchmark-side span around a call into a graft layer (or around a
  * whole workload operation, layer "op"). Times are epoch milliseconds so
  * they line up with Spark's task launch/finish stamps. */
final class Span(val id: Long, val parent: Long, val layer: String,
    val name: String, val op: Long, val start: Double) {
  var end: Double = Double.NaN
  var failed = false
  def wall: Double = end - start
}

/** Spark work the job listener attributed to one span. */
final class Work {
  var jobs = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
}

/** Span recording for the traced run. Each layer call sets the Spark local
  * property [[Prop]] to its span id, so the job listener can attribute
  * every job the call launches; jobs that arrive without the property (for
  * example from threads that do not inherit local properties) are counted
  * as unattributed. Operations that are not traced carry [[Untraced]], so
  * their jobs are neither attributed nor counted as unattributed. */
object Trace {
  val Prop = "perfbench.span"
  val Untraced = "-"

  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private var sc: SparkContext = _
  private val ids = new AtomicLong(1)
  private val recorded = mutable.ArrayBuffer.empty[Span]
  // inheritable: the streaming engine's thread, started inside a span,
  // parents its micro-batch spans under it
  private val stack = new InheritableThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  @volatile private var active = false

  var jobs: JobListener = _
  var streams: StreamListener = _

  /** Attach the listeners; called once per session in the traced run. */
  def attach(context: SparkContext, streaming: org.apache.spark.sql.SparkSession): Unit = {
    sc = context
    jobs = new JobListener
    streams = new StreamListener
    context.addSparkListener(jobs)
    streaming.streams.addListener(streams)
  }

  def enabled: Boolean = sc != null

  def spans: Seq[Span] = recorded.synchronized(recorded.toList)

  /** One workload operation. A traced operation opens a root span; an
    * untraced one marks its jobs [[Untraced]]. */
  def op[A](kind: String, index: Long, traced: Boolean)(body: => A): A = {
    if (!enabled) return body
    val outerProp = sc.getLocalProperty(Prop)
    val outerActive = active
    try {
      active = traced
      if (traced) span("op", kind, index)(body)
      else { sc.setLocalProperty(Prop, Untraced); body }
    } finally { active = outerActive; sc.setLocalProperty(Prop, outerProp) }
  }

  /** Whether the operation in flight is traced. */
  def tracedNow: Boolean = enabled && active

  /** A call into graft layer `layer`; `name` is the operation. */
  def call[A](layer: String, name: String)(body: => A): A =
    if (!enabled || !active) body
    else span(layer, name, stack.get.headOption.map(_.op).getOrElse(-1L))(body)

  private def span[A](layer: String, name: String, op: Long)(body: => A): A = {
    val outer = stack.get
    val outerProp = sc.getLocalProperty(Prop)
    val s = new Span(ids.getAndIncrement(), outer.headOption.map(_.id).getOrElse(0L),
      layer, name, op, nowMs)
    recorded.synchronized(recorded += s)
    stack.set(s :: outer)
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    catch { case e: Throwable => s.failed = true; throw e }
    finally {
      s.end = nowMs
      stack.set(outer)
      sc.setLocalProperty(Prop, outerProp)
    }
  }

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)
}

/** Attributes jobs, tasks, bytes and task intervals to the span whose id
  * the submitting thread carried in [[Trace.Prop]]. */
final class JobListener extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  val work = mutable.Map.empty[Long, Work]
  /** (launch, finish) epoch ms of every finished task, any span. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var unattributedJobs = 0

  private def of(span: Long): Work = work.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Prop)))
    val span = tag match {
      case None => -1L
      case Some(Trace.Untraced) => -2L
      case Some(id) => id.toLong
    }
    jobSpan(e.jobId) = span
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    if (span == -1L) unattributedJobs += 1
    if (span >= 0) of(span).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    taskIntervals += ((info.launchTime, info.finishTime))
    val span = stageJob.get(e.stageId).flatMap(jobSpan.get).getOrElse(-1L)
    val m = e.taskMetrics
    if (span >= 0 && m != null) {
      val w = of(span)
      w.taskMs += m.executorRunTime
      w.gcMs += m.jvmGCTime
      w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      w.inputBytes += m.inputMetrics.bytesRead
      w.inputRecords += m.inputMetrics.recordsRead
      w.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** Keeps every streaming progress report of the traced run. */
final class StreamListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(progress += e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
