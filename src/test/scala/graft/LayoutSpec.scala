package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.marine.Channels
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

  test("zvalue matches a reference Morton interleave on random inputs") {
    import spark.implicits._
    val bits = 8
    def refMorton(xs: Seq[Long], stride: Int): Long =
      xs.zipWithIndex.map { case (x, d) =>
        (0 until bits).map(i => ((x >> i) & 1L) << (i * stride + d)).reduce(_ | _)
      }.reduce(_ | _)
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(200)((rnd.nextInt(256).toLong, rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
    val df = rows.toDF("a", "b", "c")
    // ranges exactly [0, 255] → identity bucketing, so the reference is exact
    val got2 = df.select(col("a"), col("b"),
        Layout.zvalue(Seq((col("a"), 0L, 255L), (col("b"), 0L, 255L)), bits).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got2.foreach { case (a, b, z) =>
      assert(z == refMorton(Seq(a, b), 2), s"2-dim z($a,$b)")
    }
    val got3 = df.select(col("a"), col("b"), col("c"),
        Layout.zvalue(Seq((col("a"), 0L, 255L), (col("b"), 0L, 255L), (col("c"), 0L, 255L)), bits).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    got3.foreach { case (a, b, c, z) =>
      assert(z == refMorton(Seq(a, b, c), 3), s"3-dim z($a,$b,$c)")
    }
    // out-of-[lo,hi] values clamp instead of corrupting neighbor bits
    val clamped = Seq((-5L, 300L)).toDF("a", "b")
      .select(Layout.zvalue(Seq((col("a"), 0L, 255L), (col("b"), 0L, 255L)), bits))
      .head().getLong(0)
    assert(clamped == refMorton(Seq(0L, 255L), 2), "clamp at the range edges")
  }

  test("z-ordered files bound BOTH dimensions; a linear sort clusters only its own") {
    import spark.implicits._
    // two independent uniform dims: a linear sort on x leaves y's
    // per-file span at ~full range, z-order narrows both
    val rnd = new scala.util.Random(7)
    val n = 40000
    val df = Seq.fill(n)((rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong))
      .toDF("x", "y")
    def avgSpans(path: String): (Double, Double) = {
      val files = new java.io.File(path).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).map(_.toString)
      assert(files.length >= 8, s"need several files to measure, got ${files.length}")
      val spans = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min("x"), max("x"), min("y"), max("y")).head()
        ((r.getLong(1) - r.getLong(0)).toDouble / (1 << 16),
         (r.getLong(3) - r.getLong(2)).toDouble / (1 << 16))
      }
      (spans.map(_._1).sum / spans.length, spans.map(_._2).sum / spans.length)
    }
    val base = Files.createTempDirectory("zorder").toString
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "2500")
    try {
      Layout.zorderWrite(df, Seq("x", "y"), s"$base/z", bits = 8, partitions = 4)
      df.repartitionByRange(4, col("x")).sortWithinPartitions("x")
        .write.mode("overwrite").parquet(s"$base/linear")
      val (zx, zy) = avgSpans(s"$base/z")
      val (lx, ly) = avgSpans(s"$base/linear")
      assert(lx < 0.2, s"sanity: linear sort clusters its own dim (x span $lx)")
      assert(ly > 0.8, s"sanity: linear sort leaves y unclustered (y span $ly)")
      assert(zx < 0.5 && zy < 0.5,
        s"z-order must bound both dims per file: x $zx, y $zy")
      assert(zy < ly / 2, s"z-order y span $zy must beat linear's $ly")
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("compact merges small files to the byte target without losing rows") {
    import spark.implicits._
    val in = Files.createTempDirectory("compact-in").toString + "/t"
    val out = Files.createTempDirectory("compact-out").toString + "/t"
    // 40 deliberately tiny files (one per partition)
    val df = (0 until 4000).map(i => (i.toLong, s"row_$i")).toDF("id", "s")
    df.repartition(40).write.parquet(in)
    val inFiles = new java.io.File(in).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(inFiles == 40, s"setup must produce 40 files, got $inFiles")

    val fs = new org.apache.hadoop.fs.Path(in)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = fs.getContentSummary(new org.apache.hadoop.fs.Path(in)).getLength
    // target ≈ a quarter of the data → expect ~4 output files
    val n = Layout.compact(spark, in, out, targetBytes = onDisk / 4 + 1)
    val outFiles = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(n == outFiles)
    assert(outFiles <= 4 && outFiles >= 1,
      s"40 small files should compact to ≤4, got $outFiles")
    // content identical as a multiset
    val a = spark.read.parquet(in).collect().map(_.toString).sorted
    val b = spark.read.parquet(out).collect().map(_.toString).sorted
    assert(a.sameElements(b), "compaction must preserve every row exactly")
    // and the rewrite plans NO shuffle (coalesce, not repartition)
    val plan = spark.read.parquet(in).coalesce(n.toInt)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"),
      s"compaction must not shuffle the table: ${plan.take(400)}")
  }

  test("Channels.resample downsamples to fixed-width buckets") {
    import spark.implicits._
    val aligned = Seq(
      (0.0, 1.0), (0.4, 2.0), (1.2, 3.0), (2.6, 5.0))
      .toDF("ts", "sog")
    val out = Channels.resample(aligned, 1.0, Seq("sog")).collect()
    assert(out.length == 3)
    assert(out(0).getDouble(1) == 1.5) // mean of bucket [0,1)
  }

  test("Channels.alignByKey carries forward within each boat only") {
    import spark.implicits._
    val long = Seq(
      ("a", 1.0, "sog", 5.0), ("a", 2.0, "hdg", 180.0),
      ("b", 1.5, "sog", 7.0))
      .toDF("boat", "ts", "channel", "value")
      .withColumnRenamed("boat", "boat_id")
    val aligned = Channels.alignByKey(long, "boat_id", Seq("sog", "hdg"))
    val a2 = aligned.filter(col("boat_id") === "a" && col("ts") === 2.0).head()
    assert(a2.getDouble(a2.fieldIndex("sog")) == 5.0, "a's sog carried to ts=2")
    val b = aligned.filter(col("boat_id") === "b").head()
    assert(b.isNullAt(b.fieldIndex("hdg")), "b never saw hdg — no cross-boat leak")
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

  test("mergeDatePartitioned rewrites ONLY the partitions the changes touch") {
    import spark.implicits._
    val root = Files.createTempDirectory("merge").toString + "/t"
    val target = (0 until 40).map(i =>
      (i.toLong, s"n$i", java.sql.Date.valueOf(s"2024-01-0${i % 4 + 1}")))
      .toDF("k", "name", "p_date")
    target.write.partitionBy("p_date").parquet(root)
    val untouched = new java.io.File(s"$root/p_date=2024-01-04")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toSeq
    val changes = Seq(
      (0L, "UPDATED", java.sql.Date.valueOf("2024-01-01"), false),
      (100L, "NEW", java.sql.Date.valueOf("2024-01-02"), false),
      (200L, "FRESH-PART", java.sql.Date.valueOf("2024-01-09"), false),
      (1L, "", java.sql.Date.valueOf("2024-01-02"), true))
      .toDF("k", "name", "p_date", "del")
    val swapped = Layout.mergeDatePartitioned(
      spark, root, changes, Seq("k"), deleteCol = Some("del"))
    assert(swapped == 3, s"2024-01-01/02/09 swapped, got $swapped")
    val back = spark.read.parquet(root)
    assert(back.filter(col("k") === 0L).head().getString(1) == "UPDATED")
    assert(back.filter(col("k") === 100L).count() == 1)
    assert(back.filter(col("k") === 200L &&
      col("p_date") === "2024-01-09").count() == 1)
    assert(back.filter(col("k") === 1L).count() == 0, "deleted row gone")
    assert(back.count() == 40 - 1 + 2)
    // the untouched partition's files were not rewritten
    val after = new java.io.File(s"$root/p_date=2024-01-04")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toSeq
    assert(after == untouched, "untouched partition must keep its exact files")
    // the swap retired its commit machinery: no staging, trash or marker
    assert(!new java.io.File(s"${root}__staging").exists(), "staging retired")
    assert(!new java.io.File(s"${root}__trash").exists(), "trash retired")
  }

  test("merge swap killed between rename-aside and rename-in recovers mechanically") {
    import spark.implicits._
    val root = Files.createTempDirectory("mergecrash").toString + "/t"
    (1 to 30).map(i =>
      (i.toLong, s"old$i", java.sql.Date.valueOf(s"2024-01-0${i % 3 + 1}")))
      .toDF("k", "name", "p_date")
      .write.partitionBy("p_date").parquet(root)
    // stage a merge by hand: new data for 01-01, a full-delete of 01-02
    val staging = s"${root}__staging"
    (1 to 30).filter(_ % 3 == 0).map(i => (i.toLong, s"NEW$i"))
      .toDF("k", "name")
      .write.parquet(s"$staging/p_date=2024-01-01")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(staging, "_MERGE_PENDING"),
      "swap p_date=2024-01-01\ndrop p_date=2024-01-02".getBytes("UTF-8"))
    // the KILL POINT the round-9 verdict named: the live partition has
    // been renamed aside (old delete-then-rename lost it here forever;
    // rename-aside keeps it in trash) but the staged dir has NOT landed
    // — a reader lists the partition as absent, the manifest says the
    // merge must finish
    val trash = new java.io.File(s"${root}__trash"); trash.mkdirs()
    assert(new java.io.File(s"$root/p_date=2024-01-01")
      .renameTo(new java.io.File(trash, "p_date=2024-01-01")))
    // recovery finishes the swap from the manifest alone
    val applied = Layout.recoverMergePending(spark, root)
    assert(applied == 2, s"both manifest entries applied, got $applied")
    val back = spark.read.parquet(root)
    assert(back.filter(col("p_date") === "2024-01-01")
      .select("name").as[String].collect().forall(_.startsWith("NEW")),
      "staged partition landed")
    assert(back.filter(col("p_date") === "2024-01-02").count() == 0,
      "dropped partition stays dropped")
    assert(back.filter(col("p_date") === "2024-01-03").count() == 10,
      "untouched partition intact")
    assert(!new java.io.File(staging).exists() && !trash.exists(),
      "commit machinery retired after recovery")
    // replay safety: a second recovery is a no-op
    assert(Layout.recoverMergePending(spark, root) == 0L)
  }

  test("compactInPlace repoints crash-recoverably; kill between renames recovers") {
    import spark.implicits._
    val live = Files.createTempDirectory("pub").toString + "/t"
    val rows = (0 until 40).map(i => (i.toLong, s"v$i"))
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "2")
    try rows.toDF("k", "v").repartition(4).write.parquet(live)
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val before = new java.io.File(live).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before > 4, s"need a fragmented input, got $before files")
    // end-to-end: rewrite + publish in place, content multiset-equal
    Layout.compactInPlace(spark, live, targetBytes = 1L << 20)
    val after = new java.io.File(live).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(after < before, s"$before -> $after files")
    assert(spark.read.parquet(live).as[(Long, String)].collect().sorted.toSeq
      == rows.sorted, "content survives the in-place compaction")
    assert(!new java.io.File(s"${live}__PUBLISH_PENDING").exists() &&
      !new java.io.File(s"${live}__trash").exists() &&
      !new java.io.File(s"${live}__compacting").exists(),
      "publish machinery fully retired")

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

  test("merge swap killed BEFORE any rename recovers, and a new merge self-heals first") {
    import spark.implicits._
    val root = Files.createTempDirectory("mergecrash2").toString + "/t"
    (1 to 10).map(i => (i.toLong, s"old$i", java.sql.Date.valueOf("2024-02-01")))
      .toDF("k", "name", "p_date")
      .write.partitionBy("p_date").parquet(root)
    val staging = s"${root}__staging"
    (1 to 10).map(i => (i.toLong, s"STAGED$i"))
      .toDF("k", "name")
      .write.parquet(s"$staging/p_date=2024-02-01")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(staging, "_MERGE_PENDING"),
      "swap p_date=2024-02-01".getBytes("UTF-8"))
    // kill point: manifest persisted, zero swaps applied — the live
    // tree is fully intact; the NEXT merge must finish this one before
    // computing its own change set (it merges against the staged truth)
    val changes = Seq((1L, "FINAL", java.sql.Date.valueOf("2024-02-01"), false))
      .toDF("k", "name", "p_date", "del")
    Layout.mergeDatePartitioned(spark, root, changes, Seq("k"),
      deleteCol = Some("del"))
    val names = spark.read.parquet(root).select("k", "name").as[(Long, String)]
      .collect().toMap
    assert(names(1L) == "FINAL", "new merge applied on top of recovered state")
    assert((2L to 10L).forall(k => names(k) == s"STAGED$k"),
      s"pending merge's staged rows landed before the new merge: $names")
  }

  test("compactInPlace itself self-heals a publish killed between renames") {
    import spark.implicits._
    val live = Files.createTempDirectory("pub3").toString + "/t"
    val rows = (0 until 20).map(i => (i.toLong, s"v$i"))
    // killed state: marker present, live dir renamed aside, staged
    // source not yet renamed in — the live path is ABSENT. The pre-fix
    // compactInPlace read the live path before recovering and threw;
    // the doc always promised self-healing at entry.
    val staged = Files.createTempDirectory("pub3src").toString + "/new"
    rows.toDF("k", "v").repartition(3).write.parquet(staged)
    new java.io.File(live).getParentFile.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${live}__PUBLISH_PENDING"),
      staged.getBytes("UTF-8"))
    Layout.compactInPlace(spark, live, targetBytes = 1L << 20)
    assert(spark.read.parquet(live).as[(Long, String)].collect().sorted.toSeq
      == rows.sorted, "recovered THEN compacted, one call")
    assert(!new java.io.File(s"${live}__PUBLISH_PENDING").exists() &&
      !new java.io.File(s"${live}__compacting").exists())
  }

  test("a stale __trash from a prior merge is cleared before the next merge begins") {
    import spark.implicits._
    val root = Files.createTempDirectory("mergetrash").toString + "/t"
    (1 to 9).map(i => (i.toLong, s"old$i", java.sql.Date.valueOf("2024-03-01")))
      .toDF("k", "name", "p_date")
      .write.partitionBy("p_date").parquet(root)
    // leftovers of a merge killed between manifest retirement and trash
    // cleanup: an aside dir for the SAME partition, no pending manifest.
    // Without the clear, the next merge's applyMergeManifest sees
    // fs.exists(aside) and hard-DELETES the live partition instead of
    // renaming it aside — silently voiding the rename-aside guarantee.
    Seq((99L, "ANCIENT")).toDF("k", "name")
      .write.parquet(s"${root}__trash/p_date=2024-03-01")
    val changes = Seq((1L, "NEW", java.sql.Date.valueOf("2024-03-01"), false))
      .toDF("k", "name", "p_date", "del")
    Layout.mergeDatePartitioned(spark, root, changes, Seq("k"),
      deleteCol = Some("del"))
    val names = spark.read.parquet(root).select("k", "name").as[(Long, String)]
      .collect().toMap
    assert(names(1L) == "NEW" && names(5L) == "old5" && !names.contains(99L),
      s"stale trash neither resurrects nor corrupts: $names")
    assert(!new java.io.File(s"${root}__trash").exists(),
      "merge start cleared the stale trash; merge end left none")
  }
}
