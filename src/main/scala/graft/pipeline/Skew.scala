package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation helpers (SURVEY.md §7.7). AQE's skew-join split
  * handles sort-merge skew at runtime; explicit salting remains the tool
  * when one hot key dominates a shuffled aggregation or a broadcast is
  * impossible. Deterministic salts (hash of a row key, not rand()) keep
  * runs reproducible.
  */
object Skew {

  /** Salted join of a skewed fact against a dim: the dim side is
    * replicated `buckets`× (explode) so each salted fact partition finds
    * its match — the classic hot-key join spread. Only worth it when the
    * dim is too big to broadcast but far smaller than the fact.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 saltSrc: Column, buckets: Int = 16): DataFrame = {
    val saltedFact = fact.withColumn("__salt", pmod(hash(saltSrc), lit(buckets)))
    val repDim = dim.withColumn("__salt",
      explode_outer(sequence(lit(0), lit(buckets - 1))))
    saltedFact.join(repDim, Seq(key, "__salt")).drop("__salt")
  }
}
