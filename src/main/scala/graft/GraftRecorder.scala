package graft

import org.apache.spark.{GraftListenerBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Spark's cost of a span of work: the per-job floor (jobs, stages,
  * tasks) beside the compute it scheduled. `spillBytes` is the
  * in-memory size of spilled data; `maxTaskMs` and `peakExecMemBytes`
  * are maxima over single tasks, the rest are sums.
  */
final case class JobCounters(
    jobs: Long = 0L, stages: Long = 0L, tasks: Long = 0L,
    taskMs: Long = 0L, maxTaskMs: Long = 0L, shuffleWriteBytes: Long = 0L,
    spillBytes: Long = 0L, peakExecMemBytes: Long = 0L) {
  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_ms" -> taskMs,
    "max_task_ms" -> maxTaskMs, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "peak_exec_mem_bytes" -> peakExecMemBytes)
}

/** Listener that counts every job that ends between [[reset]] and
  * [[settle]]. Both drain the listener bus first, so the counters hold
  * exactly the jobs of the span in between — no timed sleep.
  */
final class GraftRecorder private (sc: SparkContext) extends SparkListener {
  private var c = JobCounters()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1) else c.copy(
      tasks = c.tasks + 1,
      taskMs = c.taskMs + m.executorRunTime,
      maxTaskMs = math.max(c.maxTaskMs, m.executorRunTime),
      shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      spillBytes = c.spillBytes + m.memoryBytesSpilled,
      peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory))
  }

  def reset(): Unit = { GraftListenerBus.settle(sc); synchronized { c = JobCounters() } }

  /** The counters since the last [[reset]], final for every ended job. */
  def settle(): JobCounters = { GraftListenerBus.settle(sc); synchronized(c) }
}

object GraftRecorder {
  def attach(sc: SparkContext): GraftRecorder = {
    val r = new GraftRecorder(sc)
    sc.addSparkListener(r)
    r
  }
}
