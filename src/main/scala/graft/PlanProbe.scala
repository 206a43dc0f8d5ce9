package graft

import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Dev tool: for each named oracle key, the formatted explain of its
  * EXECUTED plan and the per-operator SQLMetrics of that run — the
  * `.explain` loop SURVEY.md §4 prescribes after every operator change,
  * plus which operator holds the task time (scan vs join vs window vs
  * exchange) and how many bytes each Exchange moved: the numbers the
  * Spark UI's SQL tab shows, printed for a session run with the UI off.
  *
  *   sbt "runMain graft.PlanProbe complex_revenue_deciles" > plan.txt
  *
  * Tables and session config are Bench's: `SPARK_GRAFT_SF_DIR` (default
  * sf0.1) and [[GraftSession.fromEnv]] at 4 cpus, shuffle 8. Each key
  * runs twice (warm, then measured) so codegen and footer caching stay
  * out of the metrics. (PlanAuditSpec pins the plan properties that
  * matter; this prints the whole plan for the human iterating on a
  * rework.)
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.fromEnv(4, Some(8)).getOrCreate()
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
      SparkEntry.queries(key)(spark, sfDir).queryExecution.toRdd.count()
      val df = SparkEntry.queries(key)(spark, sfDir)
      df.queryExecution.toRdd.count()
      println(s"===== $key =====")
      println(df.queryExecution.explainString(FormattedMode))
      dump(df.queryExecution.executedPlan, 0)
    }
    spark.stop()
  }
}
