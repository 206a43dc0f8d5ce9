package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. sf0.001 keeps tests fast. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Finalized physical plan as text: collect() first so AQE settles on
    * the real plan. NOTE: the toString still repeats the pre-AQE plan
    * under "== Initial Plan ==" — count operators in [[finalPlanSection]]
    * when asserting how many of something the EXECUTED plan contains.
    */
  protected def finalizedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString()
  }

  /** The executed-plan section only (everything before AQE's repeated
    * "== Initial Plan ==" dump). */
  protected def finalPlanSection(p: String): String =
    p.split("== Initial Plan ==").head
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4, 4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
