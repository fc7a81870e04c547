package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._

/** The `spark` layer seen from outside: a listener counting jobs, tasks,
  * executor run time, shuffle and spill bytes, and remembering each job's
  * wall interval, so an op's wall time splits into time with at least one
  * job running and driver gap (no job running).
  */
final class SparkProbe(sc: SparkContext) extends SparkListener {
  private var jobs = 0L
  private var tasks = 0L
  private var execRunMs = 0L
  private var shuffleBytes = 0L
  private var spillBytes = 0L
  private val running = mutable.Map.empty[Int, Long]
  private val finished = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    running(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running.remove(e.jobId).foreach(s => finished += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      execRunMs += m.executorRunTime
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  import SparkProbe.Snap

  private def snap(): Snap = synchronized {
    Snap(jobs, tasks, execRunMs, shuffleBytes, spillBytes, finished.size)
  }

  private var before: Snap = snap()
  private var startMs = 0L

  /** Mark the start of an op. */
  def begin(): Unit = {
    ListenerBus.drain(sc)
    before = snap()
    startMs = System.currentTimeMillis()
  }

  /** Close the op begun last: its `spark.*` per-op figures. */
  def end(): Map[String, Double] = {
    val endMs = System.currentTimeMillis()
    ListenerBus.drain(sc)
    val after = snap()
    val ivs = synchronized(finished.slice(before.nFinished, after.nFinished).toSeq ++
      running.values.map(s => (s, endMs)))
    val busy = Trace.union(ivs.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a })
    Map(
      "spark.jobs" -> (after.jobs - before.jobs).toDouble,
      "spark.tasks" -> (after.tasks - before.tasks).toDouble,
      "spark.executor_run_ms" -> (after.execRunMs - before.execRunMs).toDouble,
      "spark.job_ms" -> busy.toDouble,
      "spark.driver_gap_ms" -> ((endMs - startMs) - busy).toDouble,
      "spark.shuffle_bytes" -> (after.shuffleBytes - before.shuffleBytes).toDouble,
      "spark.spill_bytes" -> (after.spillBytes - before.spillBytes).toDouble)
  }
}

object SparkProbe {
  private final case class Snap(jobs: Long, tasks: Long, execRunMs: Long,
                                shuffleBytes: Long, spillBytes: Long, nFinished: Int)
}
