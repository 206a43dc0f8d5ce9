package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: print the EXECUTED physical plan of named oracle keys at
  * sf0.1 under the driver's default session config — the `.explain`
  * loop SURVEY.md §4 prescribes after every operator change, one
  * command: `sbt "runMain graft.PlanProbe complex_revenue_deciles"`.
  * (PlanAuditSpec pins the properties that matter; this prints the
  * whole plan for the human iterating on a rework.)
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_PLAN_OUT=<dir> + SPARK_GRAFT_PLAN_TAG=before|after:
    // additionally write each key's explain("formatted") to
    // <dir>/<key>_<tag>.txt — the optimization-round deliverable
    // (plans/r15/*_before.txt / *_after.txt).
    val outDir = sys.env.get("SPARK_GRAFT_PLAN_OUT")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
    for (key <- args) {
      val df = SparkEntry.queries(key)(spark, "/root/testdata/sf0.1")
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      println(s"===== $key =====")
      println(p)
      outDir.foreach { d =>
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(d, s"${key}_$tag.txt"), formatted)
      }
    }
  }
}
