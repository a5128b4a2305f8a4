package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the trace: run → operation → construct/plan/exec, with each
  * Spark job a child of the phase span that submitted it, and for the DAG
  * each SQL execution and planning phase a child of its one phase span.
  * Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, name: String, start: Long,
                      var end: Long, attrs: mutable.Map[String, Any])

/** Per-phase counters summed from listener events. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var spill = 0L; var input = 0L
  var outBytes = 0L; var outRows = 0L
}

/** Span recorder plus a SparkListener and a QueryExecutionListener, all
  * registered from outside the engine. While `enabled` is false every hook
  * returns at once, so a traced and an untraced run of the same work in
  * one JVM differ only by the tracing overhead.
  *
  * Spark work is attributed to the phase span that was current on the
  * driver thread when the job was submitted: the span id rides the job's
  * local properties. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile var enabled = false
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  /** Counters per phase span id. */
  private val counters = new ConcurrentHashMap[Long, Counters]()
  /** Closed SQL execution windows (start, end) in epoch ms. */
  val sqlWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val sqlStarts = new ConcurrentHashMap[Long, Long]()
  /** Planning phases of finished query executions (start, end) in epoch ms. */
  val planWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val SpanKey = "perfbench.span"

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Runs `body` inside a new span; Spark jobs it submits become children. */
  def span[T](name: String, parent: Long, attrs: (String, Any)*)(body: Long => T): T = {
    if (!enabled) return body(0L)
    val s = Span(nextId.getAndIncrement(), parent, name, System.currentTimeMillis(), 0L,
      mutable.Map(attrs: _*))
    spans.synchronized(spans += s)
    counters.put(s.id, new Counters)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body(s.id)
    finally {
      sc.setLocalProperty(SpanKey, prev)
      s.end = System.currentTimeMillis()
    }
  }

  /** Waits until every event already posted has been handled. */
  def drain(): Unit = org.apache.spark.BusDrain(spark.sparkContext)

  private def phaseOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)

  private def counted(spanId: Long)(f: Counters => Unit): Unit =
    Option(counters.get(spanId)).foreach(c => c.synchronized(f(c)))

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val parent = phaseOf(e.properties)
    val s = Span(nextId.getAndIncrement(), parent, s"job ${e.jobId}", e.time, 0L,
      mutable.Map("stages" -> e.stageIds.size))
    spans.synchronized(spans += s)
    jobSpan.put(e.jobId, s)
    e.stageIds.foreach(st => stageSpan.put(st, parent))
    counted(parent)(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
    Option(jobSpan.remove(e.jobId)).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
    counted(stageSpan.getOrDefault(e.stageInfo.stageId, 0L))(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val m = e.taskMetrics
    counted(stageSpan.getOrDefault(e.stageId, 0L)) { c =>
      c.tasks += 1
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.outBytes += m.outputMetrics.bytesWritten
        c.outRows += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (enabled) e match {
    case s: SparkListenerSQLExecutionStart => sqlStarts.put(s.executionId, s.time)
    case s: SparkListenerSQLExecutionEnd =>
      Option(sqlStarts.remove(s.executionId)).foreach(t0 =>
        sqlWindows.synchronized(sqlWindows += ((t0, s.time))))
    case _ =>
  }

  private def recordPlanning(qe: QueryExecution): Unit = if (enabled) {
    qe.tracker.phases.get("planning").foreach(p =>
      planWindows.synchronized(planWindows += ((p.startTimeMs, p.endTimeMs))))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlanning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlanning(qe)

  /** Counters of one phase span (after a drain). */
  def countersOf(spanId: Long): Counters = Option(counters.get(spanId)).getOrElse(new Counters)

  /** The windows that start inside [from, to]. */
  def within(windows: mutable.ArrayBuffer[(Long, Long)], from: Long, to: Long): List[(Long, Long)] =
    windows.synchronized(windows.filter { case (a, _) => a >= from && a <= to }.toList)

  /** Milliseconds covered by `windows`, merged so nested or overlapping
    * windows count once. */
  def coveredMs(windows: Seq[(Long, Long)]): Long = {
    var total = 0L; var curA = -1L; var curB = -1L
    windows.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Records each window as a closed child span of `parent`. */
  def addSpans(name: String, parent: Long, windows: Seq[(Long, Long)]): Unit =
    spans.synchronized(windows.foreach { case (a, b) =>
      spans += Span(nextId.getAndIncrement(), parent, name, a, b, mutable.Map.empty)
    })

  def spansJson: Iterator[String] = spans.synchronized(spans.toList).iterator.map { s =>
    val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.any(v)}" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start":${s.start},"end":${s.end},"attrs":{$attrs}}"""
  }
}
