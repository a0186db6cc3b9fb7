package kgbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Wall clock shared by spans and listener events: listener events carry
  * epoch milliseconds, so spans are stamped on the same scale. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
  def nowMs: Double = ms(System.nanoTime())
}

final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)

/** Spans around the benchmark's own calls into engine modules, kept in
  * memory and written out when the run ends. Only the main thread opens
  * spans. A disabled tracer records nothing. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, Clock.ms(t0), Clock.ms(System.nanoTime()))
      }
    }
}

final case class JobRec(id: Int, desc: String, start: Long, var end: Long)
final case class TaskRec(stageId: Int, launch: Long, durMs: Long, gcMs: Long,
                         shuffleBytes: Long)

/** Job, stage and task events of the benchmark's own session. Events
  * arrive on the listener-bus thread; readers drain the bus first
  * (KgBenchBus.drain) and then copy under the same lock. `busyNs` is the
  * time spent in the callbacks: the CPU cost tracing adds to a run. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private var busy = 0L

  def busyNs: Long = synchronized(busy)

  private def record(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    busy += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = record {
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, desc, e.time, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = record {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = record {
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = record {
    val m = e.taskMetrics
    val (gc, sh) = if (m == null) (0L, 0L)
      else (m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten)
    tasks += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.duration, gc, sh)
  }

  /** Jobs started in [fromMs, toMs], with the tasks each one ran (a task
    * belongs to the first job that listed its stage), the stage-submit
    * times, and every task launched in the window. */
  def window(fromMs: Double, toMs: Double)
      : (Seq[JobRec], Map[Int, Seq[TaskRec]], Map[Int, Long], Seq[TaskRec]) = synchronized {
    val js = jobs.values.filter(j => j.start >= fromMs && j.start <= toMs)
      .map(_.copy()).toSeq
    val ids = js.map(_.id).toSet
    val inWindow = tasks.filter(t => t.launch >= fromMs && t.launch <= toMs).toSeq
    val byJob = tasks.toSeq.filter(t => stageJob.get(t.stageId).exists(ids))
      .groupBy(t => stageJob(t.stageId))
    (js, byJob, stageSubmit.toMap, inWindow)
  }
}
