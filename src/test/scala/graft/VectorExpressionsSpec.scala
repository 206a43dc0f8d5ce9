package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.pipeline.Similarity

class VectorExpressionsSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf)

  test("vector_dot matches the higher-order-function fold bit-for-bit") {
    val pairs = emb.select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(broadcast(emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("b"))))
    val both = pairs.select(
      col("vec_id"),
      GraftFunctions.vectorDot(col("a"), col("b")).as("native"),
      Similarity.dot(col("a"), col("b")).as("hof"))
    val diff = both.filter(col("native") =!= col("hof")).count()
    assert(diff == 0, "accumulation order must be identical → bit-equal doubles")
  }

  test("vector_cosine matches the composed dot/norm form bit-for-bit") {
    val pairs = emb.limit(200).select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(broadcast(emb.filter(col("vec_id") === 1)
        .select(col("embedding").as("b"))))
    val both = pairs.select(
      GraftFunctions.vectorCosine(col("a"), col("b")).as("native"),
      Similarity.cosine(col("a"), col("b")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("vector_cosine(x, x): zero vector NaN, null null, unit vector 1.0") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Array(0.0f, 0.0f))),
      (2L, Option.empty[Array[Float]]),
      (3L, Some(Array(1.0f, 0.0f))))
      .toDF("id", "embedding")
    val out = df.select(col("id"),
      GraftFunctions.vectorCosine(col("embedding"), col("embedding")).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(out(1L).asInstanceOf[Double].isNaN, "zero vector → NaN")
    assert(out(2L) == null, "null vector → null")
    assert(out(3L) == 1.0)
  }

  test("vector_dist_sq matches the (x−y)² fold bit-for-bit, zero to self") {
    val pairs = emb.select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(broadcast(emb.filter(col("vec_id") === 2)
        .select(col("embedding").as("b"))))
    val hof = aggregate(
      zip_with(col("a"), col("b"), (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      lit(0.0), (acc, v) => acc + v)
    val both = pairs.select(
      col("vec_id"),
      GraftFunctions.vectorDistSq(col("a"), col("b")).as("native"),
      hof.as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0,
      "same op sequence → bit-equal doubles")
    val self = emb.select(
      GraftFunctions.vectorDistSq(col("embedding"), col("embedding")).as("d"))
    assert(self.filter(col("d") =!= 0.0).count() == 0, "d²(x, x) = 0 exactly")
  }

  test("SQL registration: vector_dot callable from spark.sql") {
    GraftFunctions.register(spark)
    emb.createOrReplaceTempView("emb_v")
    val r = spark.sql(
      """SELECT vector_dot(embedding, embedding) AS d,
        |       vector_cosine(embedding, embedding) AS c
        |FROM emb_v WHERE vec_id = 0""".stripMargin).head()
    assert(r.getDouble(0) > 0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12, "self-cosine is 1")
  }

  test("native expression stays inside whole-stage codegen") {
    val df = emb.select(
      GraftFunctions.vectorCosine(col("embedding"), col("embedding")).as("c"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      s"native expr must codegen: ${p.take(300)}")
  }

  test("micro-benchmark: native ≤ HOF runtime (informational)") {
    val big = emb.crossJoin(broadcast(
      emb.filter(col("vec_id") === 0).select(col("embedding").as("b"))))
    def time(f: => Long): Double = {
      f // warm
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val tNative = time(big.select(GraftFunctions.vectorCosine(col("embedding"), col("b")).as("c"))
      .agg(sum("c")).head().getDouble(0).toLong)
    val tHof = time(big.select(Similarity.cosine(col("embedding"), col("b")).as("c"))
      .agg(sum("c")).head().getDouble(0).toLong)
    info(f"native=$tNative%.3fs hof=$tHof%.3fs (n=${emb.count()})")
    assert(tNative <= tHof * 3, "native path should never be drastically slower")
  }
}
