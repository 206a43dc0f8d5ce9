package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.DedupQueries

/** r16: the PPJoin prefix-filtered char-3-gram Jaccard join must return
  * EXACTLY the pairs of the r15 gram-equi-join shape it replaced (kept
  * below as the reference) — the prefix filter is an exact candidate
  * superset (two sets with J ≥ t share their globally-smallest common
  * gram inside both prefixes), so any divergence is a bug in the
  * prefix/size arithmetic, not noise.
  */
class NgramPpjoinSpec extends SparkSpec {
  import spark.implicits._

  private def sortedRows(df: DataFrame) =
    df.orderBy("a_id", "b_id").collect().map(_.toSeq).toSeq

  private def gramSetCol = array_distinct(transform(
    sequence(lit(1), length(col("text")) - 2),
    i => expr("text").substr(i, lit(3))))

  /** The r15 gram-equi-join shape, kept as the reference: exact, but its
    * fan-out is Σ df² over all grams — hot-gram-occupancy-bounded,
    * infeasible on a corpus with boilerplate grams (110 G pairs at 10×
    * unbounded).
    */
  private def ngramJaccardGramJoin(docs: DataFrame): DataFrame = {
    val grams = docs
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"), gramSetCol.as("grams"))
      .select(col("doc_id"), size(col("grams")).as("n_grams"),
        explode_outer(col("grams")).as("gram"))
    val a = grams.select(col("doc_id").as("a_id"), col("n_grams").as("na"), col("gram"))
    val b = grams.select(col("doc_id").as("b_id"), col("n_grams").as("nb"), col("gram"))
    a.join(b, "gram")
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"), col("na"), col("nb"))
      .agg(count(lit(1)).cast("int").as("n_inter"))
      .withColumn("jac",
        col("n_inter") / (col("na") + col("nb") - col("n_inter")))
      .filter(col("jac") >= 0.8)
      .select(col("a_id"), col("b_id"), round(col("jac"), 4).as("jaccard"))
  }

  test("ppjoin equals the gram-join shape on the live fixture corpus") {
    val docs = Tables.documents(spark, sf)
    val pp = sortedRows(DedupQueries.ngramJaccardPpjoin(docs))
    val gj = sortedRows(ngramJaccardGramJoin(docs))
    assert(pp.nonEmpty, "vacuous fixture: no near-dup pairs at this SF")
    assert(pp == gj)
  }

  test("ppjoin equals the gram-join shape on a hot-boilerplate corpus") {
    // The adversarial shape for prefix filtering: a boilerplate sentence
    // shared by EVERY doc (its grams are maximally hot, df = n_docs) +
    // per-doc unique content, with planted near-dup pairs that differ
    // only in a suffix character. Prefixes must pick the rare content
    // grams and still catch every planted pair.
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (0 until 60).map { i =>
      val payload =
        if (i % 3 == 2) s"unique${i - 1}content${(i - 1) * 7}xyz${i - 1}q" // near-dup of i-1
        else s"unique${i}content${i * 7}xyz${i}z"
      (i.toLong, s"$boiler $payload")
    }.toDF("doc_id", "text")
    val pp = sortedRows(DedupQueries.ngramJaccardPpjoin(docs))
    val gj = sortedRows(ngramJaccardGramJoin(docs))
    assert(gj.nonEmpty, "vacuous: the planted near-dups must pass 0.8")
    assert(pp == gj)
  }

  test("ppjoin handles 1-gram and exact-duplicate edge docs") {
    val docs = Seq(
      (1L, "abc"),            // exactly one gram
      (2L, "abc"),            // its exact duplicate (jac = 1.0)
      (3L, "ab"),             // below the length-3 floor — excluded
      (4L, "zzzzzzzz"),       // one DISTINCT gram from many positions
      (5L, "zzzzzzzzz")       // same single gram set (jac = 1.0)
    ).toDF("doc_id", "text")
    val pp = sortedRows(DedupQueries.ngramJaccardPpjoin(docs))
    val gj = sortedRows(ngramJaccardGramJoin(docs))
    assert(pp == gj)
    assert(pp.map(r => (r(0), r(1))) == Seq((1L, 2L), (4L, 5L)))
  }
}
