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

  test("streaming CSV ingest reads the pinned dialect identically to the batch reader") {
    import org.apache.spark.sql.functions.{count => fcount}
    val tmp = Files.createTempDirectory("csvstream").toString + "/landing"
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "n_chars")
    Sources.writeCsv(docs, tmp)
    val expected = Sources.readCsv(spark, tmp, docs.schema)
      .groupBy("lang").agg(fcount(lit(1)).as("n"), sum("n_chars").as("chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val q = Sources.readCsvStream(spark, tmp, docs.schema)
      .groupBy("lang").agg(fcount(lit(1)).as("n"), sum("n_chars").as("chars"))
      .writeStream.format("memory").queryName("csv_ingest")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("csv_ingest")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected, s"stream vs batch over the same files: $got vs $expected")
    } finally q.stop()
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

  test("ORC round-trip preserves rows and pushes filters into the scan") {
    val tmp = Files.createTempDirectory("orc").toString + "/li"
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    Sources.writeOrc(li, tmp)
    val back = Sources.readOrc(spark, tmp)
    assert(back.count() == li.count())
    val filtered = back.filter(col("l_quantity") > 25.0).select("l_orderkey")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_quantity"),
      s"ORC scan must push the filter: ${plan.take(400)}")
    assert(filtered.count() ==
      li.filter(col("l_quantity") > 25.0).count())
  }

  test("binaryFile source reads whole files as payload rows") {
    val dir = Files.createTempDirectory("bin")
    Files.write(dir.resolve("a.bin"), Array[Byte](1, 2, 3))
    Files.write(dir.resolve("b.bin"), Array[Byte](4, 5))
    val df = Sources.readBinaryFiles(spark, dir.toString, "*.bin")
    val rows = df.select("length", "content").collect()
    assert(rows.map(_.getLong(0)).sorted.sameElements(Array(2L, 3L)))
  }

  test("salted aggregation matches the direct groupBy on a skewed column") {
    val events = Tables.events(spark, sf)
    val direct = events.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedCount(events, "event_type", col("event_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == direct)
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
