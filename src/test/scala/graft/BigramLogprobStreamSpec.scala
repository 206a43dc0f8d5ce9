package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysisQueries

/** The declared text_bigram_logprob shape folds each document through a
  * spillable window sort; it must be BIT-identical to the per-doc
  * collect form it replaced — the running-frame window sum adds the
  * per-bigram terms in exactly the order of the collect form's sorted
  * array fold ((w1, w2) unique per doc; 0.0-init left fold; same binary
  * string order), so any drift is an ordering bug, not float noise.
  */
class BigramLogprobStreamSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame) =
    df.orderBy("doc_id").collect().map(_.toSeq).toSeq

  /** The collect form, kept as the reference: the same counts and
    * terms, folded over each doc's `array_sort`ed (w1, w2, term) structs
    * in one unspillable `collect_list` buffer.
    */
  private def collectReference(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"),
      filter(split(col("text"), " "), w => w =!= "").as("ws"))
    val vocab = toks.select(explode(array_distinct(col("ws"))).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val dbc = toks
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"),
        explode(expr("transform(sequence(1, size(ws) - 1), " +
          "i -> named_struct('w1', element_at(ws, i), 'w2', element_at(ws, i + 1)))"))
          .as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .repartition(col("w1"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
    val wPre = org.apache.spark.sql.expressions.Window.partitionBy("w1")
    val wBg = org.apache.spark.sql.expressions.Window.partitionBy("w1", "w2")
    dbc
      .withColumn("pn", sum(col("c")).over(wPre))
      .withColumn("cnt", sum(col("c")).over(wBg))
      .crossJoin(broadcast(vocab))
      .withColumn("term", col("c").cast("double") *
        log((col("cnt") + 1).cast("double") / (col("pn") + col("v")).cast("double")))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        collect_list(struct(col("w1"), col("w2"), col("term"))).as("terms"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("aggregate(array_sort(terms), CAST(0.0 AS DOUBLE), " +
          "(acc, x) -> acc + x.term)").as("logp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("logp"), 4).as("sum_logp"),
        round(col("logp") / col("n_bigrams"), 4).as("avg_logp"))
  }

  test("window fold is bit-identical to the collect form on the fixtures") {
    val docs = Tables.documents(spark, sf)
    val collect = rows(collectReference(docs))
    val stream = rows(TextAnalysisQueries.bigramLogprobCore(docs))
    assert(collect.nonEmpty)
    assert(stream == collect)
  }

  test("window fold is bit-identical on long docs with repeated bigrams") {
    // repeated bigrams (c > 1), a shared hot prefix word, and a doc
    // with a single bigram exercise the pn/cnt windows and the
    // last-row-per-doc selection
    val docs = Seq(
      (1L, ("the cat " * 500) + "sat on the mat on the mat"),
      (2L, (0 until 2000).map(i => s"w${(i * i) % 97}").mkString(" ")),
      (3L, "only two"),
      (4L, "the cat")
    ).toDF("doc_id", "text")
    val collect = rows(collectReference(docs))
    val stream = rows(TextAnalysisQueries.bigramLogprobCore(docs))
    assert(collect.size == 4)
    assert(stream == collect)
  }
}
