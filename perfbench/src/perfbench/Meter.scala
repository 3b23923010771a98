package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The benchmark's own listener: every job and task the program runs,
  * with the executor counters a pass or layer is charged with. Times are
  * epoch milliseconds, as the scheduler reports them. */
final class Meter extends SparkListener {
  import Meter._
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val jobStarts = new ConcurrentHashMap[Int, Long]
  private val jobs = new ConcurrentLinkedQueue[Job]
  private val tasks = new ConcurrentLinkedQueue[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobStarts.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.add(Job(e.jobId, Option(jobStarts.remove(e.jobId)).getOrElse(e.time), e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (i != null) tasks.add(
      if (m == null) Task(stageJob.getOrDefault(e.stageId, -1), i.launchTime, i.finishTime, 0, 0, 0, 0)
      else Task(stageJob.getOrDefault(e.stageId, -1), i.launchTime, i.finishTime,
        m.executorRunTime, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled))
  }

  /** Everything recorded since the last call, after the bus has drained. */
  def take(sc: SparkContext): (Vector[Job], Vector[Task]) = {
    org.apache.spark.PerfbenchBus.drain(sc)
    (drainQ(jobs), drainQ(tasks))
  }

  private def drainQ[T](q: ConcurrentLinkedQueue[T]): Vector[T] = {
    val b = Vector.newBuilder[T]
    var x = q.poll()
    while (x != null) { b += x; x = q.poll() }
    b.result()
  }
}

object Meter {
  final case class Job(id: Int, startMs: Long, endMs: Long)
  final case class Task(job: Int, launchMs: Long, finishMs: Long, runMs: Long,
                        cpuNs: Long, shuffleBytes: Long, spillBytes: Long)

  /** Wall time inside [t0, t1] during which no task was running. */
  def idleMs(t0: Long, t1: Long, ts: Seq[Task]): Long = {
    var busy = 0L
    var end = t0
    ts.map(t => (math.max(t.launchMs, t0), math.min(t.finishMs, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { busy += b - math.max(a, end); end = b }
      }
    math.max(0L, (t1 - t0) - busy)
  }

  /** Slowest task run time over the median one (1 when uniform). */
  def skew(ts: Seq[Task]): Double =
    if (ts.isEmpty) 0.0
    else {
      val r = ts.map(_.runMs.toDouble).sorted
      val med = Stats.median(r)
      if (med <= 0) r.last.max(1.0) else r.last / med
    }
}
