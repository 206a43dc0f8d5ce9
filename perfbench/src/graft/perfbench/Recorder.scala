package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark counters summed over the jobs of one job group. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var maxTaskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L

  def add(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    maxTaskMs = math.max(maxTaskMs, o.maxTaskMs)
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    peakExecMemBytes = math.max(peakExecMemBytes, o.peakExecMemBytes)
    this
  }

  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_ms" -> taskMs,
    "max_task_ms" -> maxTaskMs, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "peak_exec_mem_bytes" -> peakExecMemBytes)
}

/** Listener that attributes job, stage and task counters to the job group
  * that was set on the calling thread when the job started (one group per
  * query key, per key construction and per marine stage). Read counters
  * only after [[settle]], which drains the listener bus.
  */
final class Recorder(sc: SparkContext) extends SparkListener {
  private val stageGroup = mutable.Map[Int, String]()
  private val groups = mutable.LinkedHashMap[String, Counters]()

  private def of(group: String): Counters = groups.getOrElseUpdate(group, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("ungrouped")
    val c = of(group)
    c.jobs += 1
    e.stageInfos.foreach(s => stageGroup(s.stageId) = group)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach { g => val c = of(g); c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageGroup.get(e.stageId).foreach { g =>
      val c = of(g)
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.maxTaskMs = math.max(c.maxTaskMs, m.executorRunTime)
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
    }
  }

  def settle(): Unit = org.apache.spark.PerfbenchBus.settle(sc)

  /** Counters of one group (zeros if it launched no job). */
  def group(name: String): Counters = { settle(); synchronized(new Counters().add(of(name))) }

  /** Sum over every group recorded so far. */
  def total(): Counters = {
    settle()
    synchronized(groups.values.foldLeft(new Counters)(_ add _))
  }
}

object Recorder {
  /** Run `body` with every job it launches attributed to `group`. */
  def inGroup[T](sc: SparkContext, group: String)(body: => T): T = {
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}
