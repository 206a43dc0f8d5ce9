package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Layout

class LayoutSpec extends SparkSpec {

  test("date-partitioned write prunes partitions for date-bounded queries") {
    val tmp = Files.createTempDirectory("part").toString + "/events"
    val events = Tables.eventsTs(spark, sf)
    Layout.writeDatePartitioned(events, "ts_utc", tmp)
    val dirs = new java.io.File(tmp).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("p_date=")) > 1, s"expected day dirs: ${dirs.toSeq}")

    val back = Layout.readPartitioned(spark, tmp)
      .filter(col("p_date") === "2024-01-03")
    back.collect()
    val plan = back.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") && plan.contains("p_date"),
      s"date filter must prune at planning time: ${plan.take(500)}")
    // and the result is exactly that day's events
    val expected = events.filter(to_date(col("ts_utc")) === "2024-01-03").count()
    assert(back.count() == expected)
  }

  test("dynamic partition pruning: a filtered dim join prunes the partitioned fact scan") {
    val tmp = Files.createTempDirectory("dpp").toString + "/events"
    val events = Tables.eventsTs(spark, sf)
    Layout.writeDatePartitioned(events, "ts_utc", tmp)
    val fact = Layout.readPartitioned(spark, tmp)
    // calendar dim keyed on the partition column, filtered on an
    // ATTRIBUTE (day-of-week) the fact does not carry — only runtime
    // dim-side evaluation (DPP) can prune the fact's partitions here,
    // static pruning cannot see through the join
    val dim = events.select(to_date(col("ts_utc")).as("d_date")).distinct()
      .withColumn("d_dow", dayofweek(col("d_date")))
    val q = fact.join(dim, col("p_date") === col("d_date"))
      .filter(col("d_dow") === 2)
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"))
    val got = q.collect().head
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("dynamicpruning"),
      s"the fact scan must carry a dynamicpruningexpression partition filter: ${plan.take(800)}")
    // correctness: DPP must not change the result vs the direct filter
    val exp = events.filter(dayofweek(to_date(col("ts_utc"))) === 2)
      .agg(count(lit(1)), round(sum("value"), 2)).collect().head
    assert(got.getLong(0) == exp.getLong(0) && got.getDouble(1) == exp.getDouble(1),
      s"DPP result ($got) must equal the direct filter ($exp)")
    assert(got.getLong(0) > 0, "sanity: the filtered window is non-empty")
  }

  test("bucketed tables join without an Exchange on the bucket key") {
    Layout.writeBucketed(
      Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice"),
      "o_custkey", 4, "orders_b")
    Layout.writeBucketed(
      Tables.customer(spark, sf).select(col("c_custkey"), col("c_name")),
      "c_custkey", 4, "customer_b")
    val joined = spark.table("orders_b")
      .join(spark.table("customer_b"),
        col("o_custkey") === col("c_custkey"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString()
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 0, s"bucketed join must not shuffle: ${plan.take(600)}")
  }

  test("merged applies SQL MERGE semantics: update-all, insert, matched-delete, tombstone no-op") {
    import spark.implicits._
    val target = Seq(
      (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("k", "name", "v")
    val changes = Seq(
      (2L, null.asInstanceOf[String], 99.0, false), // update: null overwrites
      (5L, "e", 50.0, false),                       // insert
      (3L, "c", 0.0, true),                         // matched delete
      (9L, "x", 0.0, true))                         // tombstone for absent key: no-op
      .toDF("k", "name", "v", "del")
    val got = Layout.merged(target, changes, Seq("k"), Some("del"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).orNull, r.getDouble(2)))
    assert(got.toSeq == Seq(
      (1L, "a", 10.0), (2L, null, 99.0), (4L, "d", 40.0), (5L, "e", 50.0)),
      got.toSeq.toString)
  }

  test("merged honors WHEN MATCHED AND: a failing condition keeps the target row, inserts are unconditional") {
    import spark.implicits._
    val target = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "name", "ver")
    val changes = Seq(
      (1L, "a-new", 15L, false), // matched, c.ver >= t.ver: update
      (2L, "stale", 5L, false),  // matched, condition fails: target kept
      (3L, "", 35L, true),       // matched delete gated by the SAME condition
      (4L, "d", 1L, false))      // unmatched: insert, condition not consulted
      .toDF("k", "name", "ver", "del")
    val got = Layout.merged(target, changes, Seq("k"), Some("del"),
        Some(col("c.ver") >= col("t.ver")))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, "a-new", 15L), (2L, "b", 20L), (4L, "d", 1L)),
      got.toSeq.toString)
    // the gate also SHIELDS a matched delete: a stale tombstone must not
    // remove a newer target row
    val staleDel = Seq((2L, "", 5L, true)).toDF("k", "name", "ver", "del")
    val kept = Layout.merged(target, staleDel, Seq("k"), Some("del"),
        Some(col("c.ver") >= col("t.ver")))
      .orderBy("k").collect().map(_.getLong(0))
    assert(kept.toSeq == Seq(1L, 2L, 3L), kept.toSeq.toString)
  }

  test("merged raises on more than one change row per key, like SQL MERGE") {
    import spark.implicits._
    val target = Seq((1L, 1.0)).toDF("k", "v")
    val changes = Seq((1L, 2.0), (1L, 3.0)).toDF("k", "v")
    val e = intercept[Exception] {
      Layout.merged(target, changes, Seq("k")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("more than one change row")),
      s"wrong failure: $e")
  }

  test("recoverPublishPending finishes a publish killed between its renames") {
    import spark.implicits._
    val live = Files.createTempDirectory("pub").toString + "/t"
    (0 until 40).map(i => (i.toLong, s"v$i")).toDF("k", "v").write.parquet(live)
    // the kill point: marker written, live renamed aside, source NOT
    // yet renamed in — a reader lists the dir absent; the marker says
    // the publish must finish
    val staged = Files.createTempDirectory("pub2").toString + "/new"
    Seq((100L, "NEW")).toDF("k", "v").write.parquet(staged)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${live}__PUBLISH_PENDING"),
      staged.getBytes("UTF-8"))
    val trash = new java.io.File(s"${live}__trash")
    assert(new java.io.File(live).renameTo(trash))
    assert(Layout.recoverPublishPending(spark, live), "marker found and applied")
    assert(spark.read.parquet(live).as[(Long, String)].collect().toSeq
      == Seq((100L, "NEW")), "staged content landed")
    assert(!trash.exists() &&
      !new java.io.File(s"${live}__PUBLISH_PENDING").exists())
    // replay: no marker, no-op
    assert(!Layout.recoverPublishPending(spark, live))
  }
}
