package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Drain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Scheduler-side counters, recorded as the listener bus delivers them and
  * attributed to spans afterwards by wall-clock time (the benchmark is one
  * closed-loop client, so spans never overlap except parent/child).
  */
final class TaskLog extends SparkListener {
  final case class Task(launchMs: Long, finishMs: Long, cpuNs: Long,
                        shuffleWriteBytes: Long, spillBytes: Long)
  val tasks = new ConcurrentLinkedQueue[Task]()
  val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
  }

  /** Executor CPU seconds of tasks launched in [fromMs, toMs]. */
  def cpuSeconds(fromMs: Long, toMs: Long): Double =
    tasks.asScala.filter(t => t.launchMs >= fromMs && t.launchMs <= toMs)
      .map(_.cpuNs).sum / 1e9
}

/** In-memory spans around the benchmark's calls into the program. Spans
  * are kept until the end of the run and summarised then; nothing is
  * written while the workload runs.
  */
final class Trace(sc: SparkContext, val log: TaskLog) {
  final case class Span(name: String, parent: Int, startMs: Long, endMs: Long,
                        startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var bookkeepingNs = 0L

  /** Time spent recording spans, outside the bodies they time. */
  def bookkeepingSeconds: Double = bookkeepingNs / 1e9

  def span[A](name: String)(body: => A): A = {
    val b0 = System.nanoTime()
    val idx = spans.size
    spans += Span(name, open.headOption.getOrElse(-1), System.currentTimeMillis(), 0L,
      System.nanoTime(), 0L)
    open = idx :: open
    bookkeepingNs += System.nanoTime() - b0
    try body
    finally {
      val b1 = System.nanoTime()
      open = open.tail
      spans(idx) = spans(idx).copy(endMs = System.currentTimeMillis(), endNs = System.nanoTime())
      bookkeepingNs += System.nanoTime() - b1
    }
  }

  /** Per-span-name means over every occurrence: self time, scheduler
    * counters of the tasks and jobs started inside the span, and the
    * driver gap (wall time minus the union of its task intervals).
    */
  def summary(): Map[String, Map[String, Double]] = {
    Drain(sc)
    val tasks = log.tasks.asScala.toSeq.sortBy(_.launchMs)
    val jobs = log.jobStarts.asScala.toSeq.map(_.longValue)
    val childSeconds = mutable.Map[Int, Double]().withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childSeconds(s.parent) += s.seconds)
    spans.zipWithIndex.groupBy(_._1.name).map { case (name, occ) =>
      val per = occ.map { case (s, i) =>
        val in = tasks.filter(t => t.launchMs >= s.startMs && t.launchMs <= s.endMs)
        // union of task intervals clipped to the span
        var covered = 0L; var reach = s.startMs
        in.foreach { t =>
          val lo = math.max(t.launchMs, reach); val hi = math.min(t.finishMs, s.endMs)
          if (hi > lo) { covered += hi - lo; reach = hi }
        }
        Map(
          "s" -> (s.seconds - childSeconds(i)),
          "wall_s" -> s.seconds,
          "jobs" -> jobs.count(j => j >= s.startMs && j <= s.endMs).toDouble,
          "tasks" -> in.size.toDouble,
          "exec_cpu_s" -> in.map(_.cpuNs).sum / 1e9,
          "shuffle_write_mb" -> in.map(_.shuffleWriteBytes).sum / 1048576.0,
          "spill_mb" -> in.map(_.spillBytes).sum / 1048576.0,
          "driver_gap_s" -> math.max(0.0, s.seconds - covered / 1000.0))
      }
      name -> per.head.keys.map(k => k -> per.map(_(k)).sum / per.size).toMap
        .updated("n", per.size.toDouble)
    }
  }
}
