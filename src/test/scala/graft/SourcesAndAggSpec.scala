package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.pipeline.Skew
import graft.sources.Sources

class SourcesAndAggSpec extends SparkSpec {

  test("CSV round-trip preserves rows and schema-declared types") {
    val tmp = Files.createTempDirectory("csv").toString + "/docs"
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "n_chars")
    Sources.writeCsv(docs, tmp)
    val back = Sources.readCsv(spark, tmp, docs.schema)
    assert(back.count() == docs.count())
    assert(back.schema == docs.schema)
    assert(back.agg(sum("n_chars")).head.getLong(0) ==
      docs.agg(sum("n_chars")).head.getLong(0))
  }

  test("JSON round-trip preserves nulls, embedded quotes, unicode and µs timestamps") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("json2").toString + "/tricky"
    // the dialect-corner slice: JSON-looking strings WITH quotes/commas,
    // CJK + accents, injected nulls in string and double columns, and a
    // full-microsecond timestamp — everything the CSV roundtrip key pins
    // cross-engine, asserted here for the JSON lane
    val slice = spark.range(0, 500)
      .select(
        col("id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 3700000001L).as("ts"),
        when(col("id") % 7 === 0, lit(null).cast("double"))
          .otherwise(pmod(col("id") * 31, lit(10000)).cast("double") / 100.0).as("value"),
        when(col("id") % 11 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("q\"uote, 世界 café #"), col("id"))).as("s"))
    Sources.writeJson(slice, tmp)
    val back = Sources.readJson(spark, tmp, slice.schema)
    val a = slice.orderBy("id").as[(Long, java.sql.Timestamp, Option[Double], Option[String])]
      .collect().toSeq
    val b = back.orderBy("id").as[(Long, java.sql.Timestamp, Option[Double], Option[String])]
      .collect().toSeq
    assert(a == b, s"JSON round-trip must be lossless; first diff: ${
      a.zip(b).find { case (x, y) => x != y }}")
  }

  test("JSON sink writes replay docs that read back intact") {
    val tmp = Files.createTempDirectory("json").toString + "/replay"
    val logPath = NmeaFixture.write(Files.createTempDirectory("nmea3").toString)
    val docs = graft.marine.Marine.replayFromLog(spark, logPath)
    Sources.writeJson(docs, tmp)
    val back = Sources.readJson(spark, tmp, docs.schema)
    assert(back.count() == 2)
    assert(back.select(col("meta.n_samples")).collect().map(_.getLong(0)).sum == 15)
  }

  test("salted join matches the plain join") {
    val events = Tables.events(spark, sf)
    val dim = Tables.customer(spark, sf)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val plain = events.join(dim, "user_id").count()
    val salted = Skew.saltedJoin(events, dim, "user_id", col("event_id")).count()
    assert(salted == plain)
  }
}
