package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Dev instrument (r16): per-OPERATOR SQLMetrics of named oracle keys
  * under the driver's bench config — where JobProbe says a key's cost
  * is task time rather than job count, this says WHICH operator holds
  * it (scan vs join vs window vs exchange) and how many bytes each
  * Exchange actually moved. The same numbers the Spark UI's SQL tab
  * shows, printed for a UI-less sandbox.
  *
  *   sbt "runMain graft.MetricsProbe complex_waiting_suppliers"
  *
  * Each key runs twice (warm, then measured) so codegen/footer caching
  * don't land in the metrics. Output: one line per plan node, indented
  * by depth, with its non-zero metrics.
  */
object MetricsProbe {
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

    def dump(p: SparkPlan, depth: Int): Unit = {
      val ms = p.metrics.toSeq
        .map { case (k, m) => k -> m.value }
        .filter(_._2 > 0)
        .sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }
      println("  " * depth + p.nodeName +
        (if (ms.isEmpty) "" else ms.mkString("  [", ", ", "]")))
      val children = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case other                    => other.children
      }
      children.foreach(dump(_, depth + 1))
    }

    for (key <- args) {
      // toRdd.count(), not count(): count() executes a DERIVED count
      // plan whose metrics live on different node instances — the df's
      // own executedPlan would stay unexecuted and every metric zero
      val warm = SparkEntry.queries(key)(spark, sfDir)
      warm.queryExecution.toRdd.count()
      val df = SparkEntry.queries(key)(spark, sfDir)
      df.queryExecution.toRdd.count()
      println(s"===== $key =====")
      dump(df.queryExecution.executedPlan, 0)
    }
    spark.stop()
  }
}
