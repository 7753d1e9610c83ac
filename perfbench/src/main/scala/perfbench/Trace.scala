package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.{File, PrintWriter}
import scala.collection.mutable

/** In-memory span recorder. A span has a name, the span that caused it
  * (-1 for none) and start/end on the `System.nanoTime` clock; Spark's
  * wall-clock millisecond event times are mapped onto the same clock.
  * Nothing is written until [[write]] runs at exit. When disabled every
  * call is a no-op, so untraced runs pay nothing. */
final class Trace(val enabled: Boolean) {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L

  private val names = mutable.ArrayBuffer.empty[String]
  private val parents = mutable.ArrayBuffer.empty[Int]
  private val starts = mutable.ArrayBuffer.empty[Long]
  private val ends = mutable.ArrayBuffer.empty[Long]

  /** The nanoTime reading of a wall-clock epoch millisecond. */
  def fromEpochMs(ms: Long): Long = baseNano + (ms * 1000000L - baseEpochNs)

  /** Records a finished span and returns its id (-1 when disabled). */
  def leaf(name: String, parent: Int, t0: Long, t1: Long): Int = {
    if (!enabled) return -1
    names += name; parents += parent; starts += t0; ends += t1
    names.length - 1
  }

  /** Runs `body` inside a span; `body` gets the span id as its children's parent. */
  def span[T](name: String, parent: Int)(body: Int => T): T = {
    val id = leaf(name, parent, System.nanoTime(), -1L)
    try body(id) finally if (id >= 0) ends(id) = System.nanoTime()
  }

  /** Self time per span name, in seconds: each span's duration minus the
    * part of its interval that the union of its children covers. */
  def selfSeconds(): Seq[(String, Double)] = {
    val kids = mutable.LongMap.empty[mutable.ArrayBuffer[Int]]
    for (i <- names.indices if parents(i) >= 0)
      kids.getOrElseUpdate(parents(i).toLong, mutable.ArrayBuffer.empty) += i
    val self = mutable.LinkedHashMap.empty[String, Long]
    for (i <- names.indices if ends(i) >= 0) {
      val (s, e) = (starts(i), ends(i))
      var covered = 0L
      var curS = 0L
      var curE = 0L
      kids.getOrElse(i.toLong, mutable.ArrayBuffer.empty[Int])
        .map(c => (math.max(starts(c), s), math.min(ends(c), e)))
        .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
          if (a > curE) { covered += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
      covered += curE - curS
      self(names(i)) = self.getOrElse(names(i), 0L) + (e - s - covered)
    }
    self.toSeq.map { case (k, v) => k -> v / 1e9 }.sortBy(-_._2)
  }

  /** Writes one JSON object per span (times in µs since trace start). */
  def write(f: File): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try for (i <- names.indices)
      w.println(s"""{"id":$i,"parent":${parents(i)},"name":"${names(i)}",""" +
        s""""start_us":${(starts(i) - baseNano) / 1000},"end_us":${(ends(i) - baseNano) / 1000}}""")
    finally w.close()
  }
}

/** Spark job/stage/task events and file-scan time collected between two
  * [[take]] calls. Listener callbacks run on Spark's listener-bus thread;
  * the caller drains the bus before [[take]]. */
final class SparkEvents extends SparkListener with QueryExecutionListener {
  import SparkEvents._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private var scanMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val i = jobs.indexWhere(_.id == e.jobId)
    if (i >= 0) jobs(i) = jobs(i).copy(end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stages += Stage(s.stageId, s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime,
      m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ms = PlanWalk.collect(qe.executedPlan) {
      case p if p.metrics.contains("scanTime") => p.metrics("scanTime").value
    }.sum
    synchronized { scanMs += ms }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Everything recorded since the previous call. */
  def take(): Events = synchronized {
    val out = Events(jobs.toVector, stages.toVector, tasks.toVector, scanMs)
    jobs.clear(); stages.clear(); tasks.clear(); scanMs = 0L
    out
  }
}

object SparkEvents {
  final case class Job(id: Int, start: Long, end: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, submitted: Long, completed: Long)
  final case class Task(stageId: Int, launch: Long, finish: Long, cpuNs: Long,
      shuffleBytes: Long, shuffleWriteNs: Long, fetchWaitMs: Long, spillBytes: Long)
  final case class Events(jobs: Vector[Job], stages: Vector[Stage], tasks: Vector[Task],
      scanMs: Long) {

    /** Adds job → stage → task spans under `parent`. */
    def record(trace: Trace, parent: Int): Unit = {
      val stageSpan = mutable.Map.empty[Int, Int]
      jobs.foreach { j =>
        val js = trace.leaf("spark.job", parent, trace.fromEpochMs(j.start),
          trace.fromEpochMs(if (j.end > 0) j.end else j.start))
        stages.filter(s => j.stageIds.contains(s.id)).foreach { s =>
          stageSpan(s.id) = trace.leaf("spark.stage", js, trace.fromEpochMs(s.submitted),
            trace.fromEpochMs(s.completed))
        }
      }
      tasks.foreach { t =>
        trace.leaf("spark.task", stageSpan.getOrElse(t.stageId, parent),
          trace.fromEpochMs(t.launch), trace.fromEpochMs(t.finish))
      }
    }

    /** Hottest task against the mean, in the stage with the most task time
      * (the extraction stage). */
    def taskSkew: Double = {
      val byStage = tasks.groupBy(_.stageId).values
      if (byStage.isEmpty) return 0.0
      val hot = byStage.maxBy(_.map(t => t.finish - t.launch).sum)
      val ds = hot.map(t => (t.finish - t.launch).toDouble)
      val mean = ds.sum / ds.length
      if (mean > 0) ds.max / mean else 1.0
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper
}
