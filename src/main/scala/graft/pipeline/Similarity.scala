package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an `Array[Float]` embedding column.
  *
  * Two paths (SURVEY.md §2.9):
  *  - `bruteTopK` — exact cosine top-k: one scan + TakeOrderedAndProject.
  *    Correctness baseline; O(n·d) per probe.
  *  - `RandomHyperplaneLsh` — sign-LSH bucketing: each vector hashes to an
  *    H-bit bucket by the signs of projections onto H deterministic
  *    pseudo-random hyperplanes. At 100 TB the table is written
  *    partitioned by bucket, a probe reads only its own (± multiprobe)
  *    buckets — the classic partition-pruned ANN layout.
  *
  * All vector math is higher-order array functions (zip_with/aggregate) —
  * no UDFs, stays inside codegen.
  */
object Similarity {

  /** Left-fold double dot product (same op order as the oracle twin). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Exact top-k rows by cosine against `probe` (a 1-row DataFrame with
    * an `embedding` column). Probe is broadcast; plan = scan + project +
    * TakeOrderedAndProject, no shuffle of the table.
    */
  def bruteTopK(table: DataFrame, probe: DataFrame, k: Int,
                idCol: String = "vec_id"): DataFrame =
    table.crossJoin(broadcast(probe.select(col("embedding").as("__probe"))))
      .withColumn("cos", cosine(col("embedding"), col("__probe")))
      .select(col(idCol), col("cos"))
      .orderBy(desc("cos"), col(idCol))
      .limit(k)

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * a hash folded to [-1, 1). No RNG state, so executors agree without
    * any broadcast of plane matrices.
    */
  private def planeComponent(plane: Int, dim: Column): Column =
    (pmod(xxhash64(lit(plane), dim), lit(1000003L)).cast("double") / 500001.5) - 1.0

  /** H-bit sign-LSH bucket id for an embedding column. */
  def lshBucket(emb: Column, bits: Int): Column = {
    val signs = (0 until bits).map { p =>
      val proj = aggregate(
        zip_with(emb, sequence(lit(0), size(emb) - 1),
          (x, i) => x.cast("double") * planeComponent(p, i)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L) * (1L << p)).otherwise(0L)
    }
    signs.reduce(_ + _)
  }

  /** ANN top-k: restrict the exact scoring to vectors whose bucket is
    * within `probeHamming` bits of the probe's bucket (multiprobe).
    * Recall/latency tradeoff via `bits` and `probeHamming`.
    */
  def annTopK(table: DataFrame, probe: DataFrame, k: Int,
              bits: Int = 8, probeHamming: Int = 1,
              idCol: String = "vec_id"): DataFrame = {
    val bucketed = table.withColumn("bucket", lshBucket(col("embedding"), bits))
    val probeB = broadcast(probe
      .select(col("embedding").as("__probe"))
      .withColumn("pbucket", lshBucket(col("__probe"), bits)))
    bucketed.crossJoin(probeB)
      .filter(bit_count(col("bucket").bitwiseXOR(col("pbucket"))) <= probeHamming)
      .withColumn("cos", cosine(col("embedding"), col("__probe")))
      .filter(!isnan(col("cos"))) // zero-norm vectors must not outrank real hits
      .select(col(idCol), col("cos"))
      .orderBy(desc("cos"), col(idCol))
      .limit(k)
  }
}
