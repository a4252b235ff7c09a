package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * harness spans line up with the listener's epoch-millisecond job times.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval: workload › pass › unit › phase, and jobs parented
  * to the unit that was running when they started.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      start: Double, var end: Double = Double.NaN)

/** One Spark job and the work its tasks reported. */
final class JobStats(val id: Int, val unit: Int, val phase: String, val start: Long) {
  var end: Long = -1L
  var stages = 0
  var tasks = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
}

/** Spans kept in memory for the whole run, plus the listener that turns
  * Spark's job/stage/task events into job spans. A job is attributed to
  * the unit span and phase named by the local properties the harness sets
  * on the calling thread before each call (Spark copies them to the
  * threads that run broadcast and subquery jobs).
  */
final class Trace extends SparkListener {
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new ConcurrentHashMap[Int, JobStats]()

  def open(parent: Int, kind: String, name: String): Span = {
    val s = Span(spans.size, parent, kind, name, Clock.nowMs)
    spans += s
    s
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val j = new JobStats(e.jobId, prop(Trace.UnitKey).map(_.toInt).getOrElse(-1),
      prop(Trace.PhaseKey).getOrElse("none"), e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(stageJob.put(_, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks += 1
      j.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }

  def jobList: Seq[JobStats] = jobs.values.asScala.toSeq.sortBy(_.id)
}

object Trace {
  val UnitKey = "perfbench.unit"
  val PhaseKey = "perfbench.phase"
  val Phases = Seq("build", "plan", "execute", "release")

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }
}
