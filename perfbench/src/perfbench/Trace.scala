package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed interval on a client thread. `parent` is 0 for a statement's
  * root span. Times are System.nanoTime readings. */
final case class Span(id: Long, stmt: Long, name: String, parent: Long,
    start: Long, var end: Long = 0L)

/** Spans kept in memory and written out when the run ends. Each span also
  * tags the Spark jobs submitted inside it: the span id is set as a local
  * property of the calling thread, which Spark copies into every job the
  * thread (or a thread it starts) submits. A local property of our own is
  * used, not the job group, because engine code may set the job group. */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Span]
  private val done = ArrayBuffer.empty[Span]

  def spans: Seq[Span] = done.synchronized(done.toList)

  def span[A](name: String, stmt: Long)(body: => A): A = {
    val parent = current.get()
    val s = Span(ids.incrementAndGet(), stmt, name,
      if (parent == null) 0L else parent.id, System.nanoTime())
    current.set(s)
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      current.set(parent)
      sc.setLocalProperty(Tracer.SpanKey,
        if (parent == null) null else parent.id.toString)
      done.synchronized(done += s)
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Task-metric totals of one stage attempt, with its task durations kept
  * for the skew ratio. */
final class StageAgg(val span: Long, val stage: Int, val attempt: Int) {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var delayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inBytes = 0L
  var inRecords = 0L
  var resultBytes = 0L
  val durations = ArrayBuffer.empty[Long]
}

/** Attributes every job, stage and task to the span whose id the
  * submitting thread carried in [[Tracer.SpanKey]]; jobs without one are
  * attributed to span 0. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageAgg]()
  val jobSpans = new ConcurrentHashMap[Int, java.lang.Long]()
  private val started = new AtomicInteger(0)
  private val ended = new AtomicInteger(0)
  private val lastEvent = new AtomicLong(System.nanoTime())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    jobSpans.put(e.jobId, span)
    e.stageIds.foreach(s => stageSpan.putIfAbsent(s, span))
    started.incrementAndGet()
    lastEvent.set(System.nanoTime())
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    ended.incrementAndGet()
    lastEvent.set(System.nanoTime())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEvent.set(System.nanoTime())
    val m = e.taskMetrics
    if (m == null) return
    val span: Long = Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L)
    val a = stages.computeIfAbsent((e.stageId, e.stageAttemptId),
      k => new StageAgg(span, k._1, k._2))
    val info = e.taskInfo
    a.synchronized {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.delayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
      a.resultBytes += m.resultSize
      a.durations += info.duration
    }
  }

  def stageAggs: Seq[StageAgg] = stages.values.asScala.toList

  /** Block until every started job has ended and no event arrived for
    * `quietMs`: listener events are delivered asynchronously. */
  def drain(quietMs: Long = 300, timeoutMs: Long = 30000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (System.nanoTime() < deadline &&
      (started.get != ended.get ||
        System.nanoTime() - lastEvent.get < quietMs * 1000000L))
      Thread.sleep(20)
  }
}
