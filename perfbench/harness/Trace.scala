package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for the whole record: epoch milliseconds with sub-ms
  * resolution, so harness spans line up with the millisecond times
  * Spark's listener events carry. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** A span: what ran, when, which span caused it, and which operation
  * run (one query or pipeline step in one pass) it belongs to. */
final case class Span(id: Int, name: String, start: Double, end: Double, parent: Int, run: Int)

/** In-memory span store, written out once when the benchmark ends.
  * Disabled in untraced runs, where every call is a no-op. */
final class Spans(enabled: Boolean) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  def add(name: String, start: Double, end: Double, parent: Int, run: Int): Unit = synchronized {
    if (enabled) buf += Span(nextId, name, start, end, parent, run)
    nextId += 1
  }

  /** Time `body` as span `name`; `body` receives the span's id so its
    * own children can name it as their parent. */
  def around[T](name: String, parent: Int, run: Int)(body: Int => T): T = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val t0 = Clock.now()
    try body(id)
    finally if (enabled) synchronized { buf += Span(id, name, t0, Clock.now(), parent, run) }
  }

  def all: Seq[Span] = synchronized(buf.toSeq)
}

/** Per-run task totals, keyed by the run id carried in the job tag. */
final class TaskTotals {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, deserMs = 0L
  var shuffleRead, shuffleWrite, spill, inputBytes, inputRecords = 0L
  val busy = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Reads the program through public listeners only: jobs, stages and
  * tasks from the scheduler (attributed by the per-run job tag the
  * harness sets around each operation), and the Catalyst phases of
  * every Dataset action from its QueryPlanningTracker. Job and phase
  * spans get parent 0; the summary attaches each to the harness span
  * that contains it. */
final class LayerListener(spans: Spans) extends SparkListener with QueryExecutionListener {
  import LayerListener._

  val totals = new ConcurrentHashMap[Int, TaskTotals]()
  private val jobRun = new ConcurrentHashMap[Int, Int]()
  private val stageRun = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  @volatile private var fenceJob = -1
  @volatile var fenceSeen = false

  private def runOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(_.split(",").find(_.startsWith(TagPrefix)))
      .map(_.stripPrefix(TagPrefix).toInt)

  private def tot(run: Int) = totals.computeIfAbsent(run, _ => new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = runOf(e.properties) match {
    case Some(Fence) => fenceJob = e.jobId
    case Some(run) =>
      jobRun.put(e.jobId, run)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(stageRun.put(_, run))
      val t = tot(run)
      t.synchronized(t.jobs += 1)
    case None => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobRun.remove(e.jobId)) match {
      case Some(run) =>
        spans.add("job", jobStart.remove(e.jobId).toDouble, e.time.toDouble, 0, run)
      case None => if (e.jobId == fenceJob) fenceSeen = true
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageRun.get(e.stageInfo.stageId)).foreach { run =>
      val t = tot(run)
      t.synchronized(t.stages += 1)
      for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
        spans.add("stage", s.toDouble, c.toDouble, 0, run)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageRun.get(e.stageId)).foreach { run =>
      val t = tot(run)
      val m = e.taskMetrics
      t.synchronized {
        t.tasks += 1
        t.busy += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.deserMs += m.executorDeserializeTime
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          t.inputBytes += m.inputMetrics.bytesRead
          t.inputRecords += m.inputMetrics.recordsRead
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phaseSpans(qe, spans, 0)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phaseSpans(qe, spans, 0)
}

object LayerListener {
  val TagPrefix = "perfbench-run-"
  val Fence = -1

  /** The analysis / optimization / planning phases of one query. */
  def phaseSpans(qe: QueryExecution, spans: Spans, run: Int): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      spans.add(phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble, 0, run)
    }

  def tag(run: Int): String = TagPrefix + run
}
