package graft

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev instrument for the OPTIMIZATION rounds: per key, beyond wall
  * time, how much of the cost is Spark job machinery vs data work —
  * jobs launched, stages run, tasks dispatched, summed executor task
  * time. FloorProbe (r10) measured the single-job floor at 66–98 ms;
  * a key that launches 6 jobs pays that floor 6×, and that multiple is
  * invisible in Bench's wall numbers. This names the keys whose cost is
  * job-count, not compute, so plan work targets the right thing.
  *
  * Usage: sbt "runMain graft.JobProbe" (all keys, sorted by wall) or
  * with key args. Config mirrors Bench exactly; one warmup pass, then
  * min-wall pass of SPARK_GRAFT_ITERS (default 2) with listener counts
  * from that same pass.
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.adaptive.coalescePartitions.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    val shufWr = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null) {
          taskMs.addAndGet(t.taskMetrics.executorRunTime)
          // shuffle bytes WRITTEN: the per-key fabric cost a cluster
          // pays (r16 — the PPJoin and components A/Bs are
          // shuffle-volume claims, so the probe must show the volume)
          shufWr.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    val keys =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted.filter(EnvOnly.keep)
    // warmup
    keys.foreach { k =>
      try SparkEntry.queries(k)(spark, sfDir).count()
      catch { case _: Throwable => () }
    }
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toInt
    val rows = keys.map { k =>
      var bestWall = Double.MaxValue
      var (nj, ns, nt, tm, sw) = (0, 0, 0, 0L, 0L)
      (1 to iters).foreach { _ =>
        // drain the async listener queue so counts attribute to this key
        GraftListenerBus.settle(spark.sparkContext)
        jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0L); shufWr.set(0L)
        val t0 = System.nanoTime()
        try SparkEntry.queries(k)(spark, sfDir).count()
        catch { case _: Throwable => () }
        val wall = (System.nanoTime() - t0) / 1e6
        GraftListenerBus.settle(spark.sparkContext)
        if (wall < bestWall) {
          bestWall = wall
          nj = jobs.get(); ns = stages.get(); nt = tasks.get(); tm = taskMs.get()
          sw = shufWr.get()
        }
      }
      (k, bestWall, nj, ns, nt, tm, sw)
    }
    println(f"${"key"}%-32s ${"wall_ms"}%8s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s ${"taskms"}%7s ${"shufKB"}%8s")
    rows.sortBy(-_._2).foreach { case (k, w, j, s, t, tm, sw) =>
      println(f"$k%-32s ${w}%8.1f ${j}%5d ${s}%7d ${t}%6d ${tm}%7d ${sw / 1024}%8d")
    }
    val totW = rows.map(_._2).sum
    val totJ = rows.map(_._3).sum
    println(f"TOTAL wall=${totW / 1000}%.2f s  jobs=$totJ%d  keys=${rows.size}%d")
    spark.stop()
  }
}
