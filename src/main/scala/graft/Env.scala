package graft

import org.apache.spark.sql.SparkSession

/** `SPARK_GRAFT_ONLY=k1,k2` filters which keys/ops the dev mains run
  * (Bench, Verify, ScaleBench). The driver never sets it, so driver
  * runs always cover everything. One parser shared by all three mains
  * so the knob cannot fork into differently-named variants.
  */
private[graft] object EnvOnly {
  private lazy val only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)

  def keep(name: String): Boolean = only.forall(_.contains(name))
}

/** The one session policy: every dev main and the test session build
  * their SparkSession here, so a measurement, a correctness dump and a
  * test all plan under the same config. Callers may add settings that
  * are theirs alone (a warehouse dir, an app name) to the builder.
  */
object GraftSession {
  def builder(cpus: Int, shuffle: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // readers are pure: the NANOS-as-long legacy flag is session config,
      // so a NANOS-typed events parquet reads as the canonical ns long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")

  /** [[builder]] at `SPARK_GRAFT_CPUS` and `SPARK_GRAFT_SHUFFLE`, each
    * defaulting to the calling main's own width; without a `shuffle`
    * default the shuffle width follows the cpu count.
    */
  def fromEnv(cpus: Int, shuffle: Option[Int] = None): SparkSession.Builder = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").fold(cpus)(_.toInt)
    builder(n, sys.env.get("SPARK_GRAFT_SHUFFLE").fold(shuffle.getOrElse(n))(_.toInt))
  }
}
