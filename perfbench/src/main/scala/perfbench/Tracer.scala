package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a timed region at a layer boundary. Times are epoch
  * nanoseconds; `trace` is the item index the span belongs to (-1 for
  * run-level spans such as set-up). */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, trace: Int)

/** In-memory span recorder. Spans are appended at close and written out
  * once, at the end of the run. A disabled tracer only runs the body. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L

  /** Epoch nanoseconds on the monotonic clock, aligned once to the wall
    * clock so spans line up with the listener's epoch-millisecond job
    * times. */
  private val baseWall = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def now(): Long = baseWall + (System.nanoTime() - baseNano)

  def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  def record(s: Span): Unit = if (enabled) synchronized { spans += s }

  /** Runs `body` inside a span; the span id is handed to the body so it
    * can parent its children (Spark jobs through a local property). */
  def span[T](name: String, parent: Long, trace: Int)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = newId()
      val t0 = now()
      try body(id) finally record(Span(id, name, t0, now(), parent, trace))
    }

  def all: Seq[Span] = synchronized(spans.toList)
}

object Tracer {
  /** Local properties the listener reads from each job's submitting
    * thread. Spark copies local properties into threads created after
    * they are set, so `Runner`'s stage threads inherit them. */
  val ParentKey = "perfbench.parent"
  val ItemKey = "perfbench.item"
}

/** Per-job counters summed from task-end events. */
final class JobRecord(val jobId: Int, val start: Long, val parent: Long,
    val item: Int) {
  var end: Long = -1L
  var stages = 0
  var tasks = 0
  var runNs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var inputRows = 0L
  var inputBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var outputBytes = 0L
  var peakTaskMem = 0L
}

/** The benchmark's own Spark listener: job intervals, stage and task
  * counts and task metrics, attributed to the span and item named by the
  * submitting thread's local properties. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageToJob = mutable.HashMap.empty[Int, JobRecord]

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val r = new JobRecord(e.jobId, e.time * 1000000L,
      prop(e.properties, Tracer.ParentKey).map(_.toLong).getOrElse(0L),
      prop(e.properties, Tracer.ItemKey).map(_.toInt).getOrElse(-1))
    jobs(e.jobId) = r
    e.stageIds.foreach(stageToJob(_) = r)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageToJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageToJob.get(e.stageId).foreach { r =>
      r.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        r.runNs += m.executorRunTime * 1000000L
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        val info = e.taskInfo
        r.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
        r.inputRows += m.inputMetrics.recordsRead
        r.inputBytes += m.inputMetrics.bytesRead
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.outputBytes += m.outputMetrics.bytesWritten
        r.peakTaskMem = math.max(r.peakTaskMem, m.peakExecutionMemory)
      }
    }
  }

  /** All finished jobs, after draining the asynchronous listener bus. */
  def finished(sc: SparkContext): Seq[JobRecord] = {
    org.apache.spark.perfbench.BusDrain.drain(sc)
    synchronized(jobs.values.filter(_.end >= 0).toList)
  }
}
