package graft.perfbench

import org.apache.spark.sql.functions._

/** Checks that [[Fingerprint]] ignores row order and partitioning and
  * still tells different results apart. Exits non-zero on a failure.
  * Run by perfbench/tests/test_fingerprint.py.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = Main.session(args(0))
    try {
      val df = spark.range(0, 2000).select(
        col("id"),
        (col("id") % 7).cast("int").as("k"),
        (col("id") / 3.0).as("d"),
        when(col("id") % 5 === 0, lit(null)).otherwise(concat(lit("s"), col("id"))).as("s"),
        array(col("id"), col("id") * 2).as("a"),
        struct(col("id").as("x"), (col("id") * 0.1).as("y")).as("st"),
        map(lit("m"), col("id")).as("m"),
        timestamp_seconds(col("id") * 3600).as("t"))
      val base = Fingerprint.of(df.collect().iterator)
      val variants = Map(
        "repartition(7)" -> df.repartition(7),
        "coalesce(1)" -> df.coalesce(1),
        "orderBy(desc)" -> df.orderBy(col("id").desc),
        "orderBy(k, s)" -> df.orderBy(col("k"), col("s")))
      val bad = variants.collect {
        case (name, v) if Fingerprint.of(v.collect().iterator) != base => name
      }
      val changed = Fingerprint.of(df.withColumn("d", when(col("id") === 1999, lit(0.5))
        .otherwise(col("d"))).collect().iterator)
      val dropped = Fingerprint.of(df.filter(col("id") =!= 3).collect().iterator)
      val failures = bad.map(n => s"fingerprint changed under $n").toSeq ++
        (if (changed == base) Seq("a changed value kept the fingerprint") else Nil) ++
        (if (dropped == base) Seq("a dropped row kept the fingerprint") else Nil)
      failures.foreach(f => System.err.println(s"SelfTest: $f"))
      println(if (failures.isEmpty) s"SelfTest ok $base" else "SelfTest FAILED")
      if (failures.nonEmpty) sys.exit(1)
    } finally spark.stop()
  }
}
