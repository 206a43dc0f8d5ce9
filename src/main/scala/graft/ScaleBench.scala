package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-headroom smoke: the heavy operators on a ~10× sf0.1 corpus
  * (6M lineitem / 1M events / 50k documents / 20k embeddings), built
  * once under /tmp by replicating the driver tables with remapped ids
  * — UNBOUNDED runs (full corpus, no doc_id slices), because the scale
  * question is whether the shapes survive growth, not whether a capped
  * slice stays capped. Prints one JSON line of seconds per operator.
  *
  *   sbt "runMain graft.ScaleBench"           # 10× (default)
  *   SPARK_GRAFT_SCALE=30 sbt "runMain ..."   # 30×
  *
  * The session comes from [[GraftSession.fromEnv]] at 32 cpus:
  * SPARK_GRAFT_CPUS sets the width, and SPARK_GRAFT_SHUFFLE the shuffle
  * width (default = cpus). On a cluster the fact-fact shuffle widens
  * with the executor count, and sweeping SPARK_GRAFT_SHUFFLE locally
  * shows which curves are shuffle-width-bound (the 30× star join) versus
  * genuinely super-linear.
  */
object ScaleBench {

  /** Replication for self-contained tables: every id column shifts by
    * one shared offset derived from the data — a fixed constant would
    * silently collide when the source ids exceed it (e.g.
    * SPARK_GRAFT_SF_DIR pointed at sf10+). Thin wrapper over
    * [[replicateKeyed]], the single copy of the replication mechanism.
    */
  private def replicate(spark: SparkSession, src: String, name: String,
                        copies: Int, idCols: Seq[String], out: String): DataFrame = {
    val base = spark.read.parquet(s"$src/$name.parquet")
    val offset = Option(base.agg(
        max(greatest(idCols.map(c => col(c).cast("long")) :+ lit(Long.MinValue): _*)))
        .head.get(0))
      .map(_.asInstanceOf[Long] + 1L).getOrElse(1L)
    replicateKeyed(spark, src, name, copies, idCols.map(_ -> offset), out)
  }

  /** Replication with EXPLICIT per-column offsets, for multi-table join
    * consistency: the same key domain (orderkey, custkey, suppkey) must
    * shift by the same offset in every table that carries it, or copy i
    * of a fact row would dangle against copy j of its dimension. The
    * caller derives each offset from the max over ALL tables sharing the
    * domain. Columns not in `offsets` (e.g. nationkey) pass through —
    * dimension universes grow slower than facts, which is exactly the
    * broadcast-dim shape at 100 TB.
    */
  private def replicateKeyed(spark: SparkSession, src: String, name: String,
                             copies: Int, offsets: Seq[(String, Long)],
                             out: String): DataFrame = {
    val base = spark.read.parquet(s"$src/$name.parquet")
    val byCol = offsets.toMap
    val target = s"$out/${name}_k${offsets.map(_._2).mkString("_")}"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(target, "_SUCCESS"))) {
      spark.range(copies).crossJoin(base)
        .select(base.columns.map { c =>
          byCol.get(c) match {
            case Some(off) => (col(c) + col("id") * off).as(c)
            case None      => col(c)
          }
        }: _*)
        .write.mode("overwrite").parquet(target)
    }
    spark.read.parquet(target)
  }

  /** Write a streaming corpus as EXPLICITLY SEQUENCED cohort files:
    * one parquet write per cohort under `dir/cNN`, then every file's
    * mtime is pinned to `base + i` seconds — FileStreamSource orders
    * candidate files by modification time (ms granularity; a single
    * job's part files can tie), so a one-shot sorted write can still
    * be LISTED out of event-time order and batches would arrive
    * time-shuffled (round-8 advice). Pinned mtimes make batch arrival
    * order deterministic and event-time-monotone regardless of
    * listing ties. Readers glob `dir/c*`.
    */
  private def writeSequencedCohorts(spark: SparkSession, dir: String,
      cohorts: Int)(cohort: Int => org.apache.spark.sql.DataFrame): Unit = {
    val done = java.nio.file.Paths.get(dir, "_ALL_COHORTS")
    if (java.nio.file.Files.exists(done)) return
    val base = 1700000000000L
    (0 until cohorts).foreach { i =>
      val sub = f"$dir/c$i%02d"
      cohort(i).coalesce(1).write.mode("overwrite").parquet(sub)
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(sub))
      try files.forEach { p =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
      } finally files.close()
    }
    java.nio.file.Files.createFile(done)
  }

  /** Churning-user digest stream for the state-lifecycle and
    * throughput rows: `users` users × `evPerUser` events each, in 20
    * cohorts spaced 1200 s apart in event time (sequenced cohort
    * files — see [[writeSequencedCohorts]]). Runs the digest stream to
    * completion and returns the state operator's RETAINED row count
    * from its progress metrics — `ttl = true` runs
    * [[graft.streaming.DigestStream.digestsWithTtl]] ("600 seconds"),
    * so only cohorts inside the trailing TTL window survive;
    * `ttl = false` runs the NoTimeout
    * [[graft.streaming.DigestStream.digests]], whose state is the
    * all-time user count.
    */
  private def streamDigestStateRows(spark: SparkSession, dir: String,
                                    ttl: Boolean, users: Long = 200000L,
                                    evPerUser: Int = 1): Long = {
    import spark.implicits._
    val cohorts = 20
    val perCohort = users / cohorts
    writeSequencedCohorts(spark, dir, cohorts) { i =>
      // cohort i's users emit their events inside [start, start+300 s],
      // then go idle — the 600 s TTL drops them mid-next-cohort
      spark.range(i * perCohort, (i + 1) * perCohort)
        .select(col("id").as("user_id"),
          explode(expr(s"sequence(0, ${evPerUser - 1})")).as("j"))
        .select(col("user_id"),
          concat(lit("t"), pmod(col("user_id") + col("j"), lit(5)))
            .as("event_type"),
          expr(s"timestamp_micros(1700000000000000 + " +
            s"CAST($i * 1200 + j * ${300 / math.max(evPerUser - 1, 1)} " +
            s"AS BIGINT) * 1000000)").as("ts"))
    }
    val ckpt = java.nio.file.Files
      .createTempDirectory("digest-state-ckpt").toString
    val src = spark.readStream
      .schema("user_id LONG, event_type STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", 4).parquet(s"$dir/c*")
    val ds =
      if (ttl) graft.streaming.DigestStream.digestsWithTtl(
        src.as[graft.streaming.TimedUserEvent], "600 seconds", "0 seconds")
      else graft.streaming.DigestStream.digests(
        src.select("user_id", "event_type").as[graft.streaming.UserEvent])
    val q = ds.writeStream.format("noop")
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    q.processAllAvailable()
    val rows = q.recentProgress.flatMap(_.stateOperators).lastOption
      .map(_.numRowsTotal).getOrElse(-1L)
    q.stop()
    rmTree(ckpt)
    rows
  }

  /** Best-effort recursive delete for per-row scratch (checkpoint)
    * dirs — a bench iteration must not leak state-store files across
    * runs (round-9 advice: the drift row alone left one tree per run).
    */
  private def rmTree(dir: String): Unit =
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator()
        .asScala.toSeq.reverse
        .foreach(pp => java.nio.file.Files.deleteIfExists(pp))
    } catch { case _: Throwable => () }

  private def nmeaChecksum(body: String): String =
    f"${body.getBytes("ASCII").foldLeft(0)((a, b) => a ^ b)}%02X"
  private def sentence(body: String): String = s"$$$body*${nmeaChecksum(body)}"

  /** Deterministic synthetic NMEA log for the fleet corpus: one fix =
    * RMC + VHW + MWV + DPT, 4 lines per fix, ~20k fixes per day, times
    * walking 1 Hz within a day.
    */
  private def generateNmea(path: String, nLines: Long): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    val perFix = 4
    val nFixes = nLines / perFix
    var i = 0L
    while (i < nFixes) {
      val day = i / 20000 // ~20k fixes per "day"
      val tIdx = i % 20000
      val hh = 8 + (tIdx / 3600).toInt; val mm = ((tIdx / 60) % 60).toInt; val ss = (tIdx % 60).toInt
      val t = f"$hh%02d$mm%02d$ss%02d.00"
      // real calendar arithmetic: ddmmyy must roll over month/year
      // correctly or the epoch clock goes non-monotonic on long logs
      val d = java.time.LocalDate.of(2022, 10, 12).plusDays(day)
      val ddmmyy = f"${d.getDayOfMonth}%02d${d.getMonthValue}%02d${d.getYear % 100}%02d"
      val lat = 4739.0 + (i % 997) * 0.001
      val lon = 12225.0 + (i % 991) * 0.001
      val sog = 4.5 + (i % 37) * 0.1
      val awa = if ((i / 600) % 2 == 0) 40.0 + (i % 11) else 320.0 - (i % 11)
      w.write(sentence(f"GPRMC,$t,A,$lat%.4f,N,$lon%.4f,W,$sog%.1f,210.3,$ddmmyy,,,A")); w.newLine()
      w.write(sentence(f"IIVHW,208.0,T,194.9,M,${sog - 0.3}%.1f,N,9.6,K")); w.newLine()
      w.write(sentence(f"IIMWV,$awa%.1f,R,${10.0 + (i % 23) * 0.2}%.1f,N,A")); w.newLine()
      w.write(sentence(f"IIDPT,${10.0 + (i % 53) * 0.3}%.1f,0.0")); w.newLine()
      i += 1
    }
    w.close()
  }

  def main(args: Array[String]): Unit = {
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = s"/tmp/graft_scale_x$copies"
    val spark = GraftSession.fromEnv(32)
      // bucketed-table rows below saveAsTable into the scale corpus dir,
      // not the repo cwd
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val lineitem = replicate(spark, src, "lineitem", copies, Seq("l_orderkey"), out)
    val events = Tables.normalizeEventsTs(
      replicate(spark, src, "events", copies, Seq("event_id", "user_id"), out))
    val documents = replicate(spark, src, "documents", copies, Seq("doc_id"), out)
    // the UNREPLICATED corpus, for rows where replication would distort
    // the distribution being tested (the ngram pairs: every copy repeats
    // the same texts, so df scales ×copies and pair fan-out ×copies²)
    val documents1x = spark.read.parquet(s"$src/documents.parquet")
    val embeddings = replicate(spark, src, "embeddings", copies, Seq("vec_id"), out)
    // the materialized int8 store (the ETL write): built on first use —
    // i.e. inside the warm pass — so the timed pass probes it alone
    lazy val quantizedStore =
      operators.PipelineQueries.quantizeVectors(embeddings).localCheckpoint()

    // star-join corpus: one offset per KEY DOMAIN, maxed across every
    // table sharing it, so replicated facts join replicated dims
    // exactly. One aggregate scan per table (not per column).
    def tableMaxes(table: String, cols: String*): Seq[Long] = {
      val row = spark.read.parquet(s"$src/$table.parquet")
        .agg(max(col(cols.head).cast("long")),
          cols.tail.map(c => max(col(c).cast("long"))): _*).head
      cols.indices.map(i => if (row.isNullAt(i)) 0L else row.getLong(i))
    }
    val Seq(liOkeyMax, liSkeyMax) = tableMaxes("lineitem", "l_orderkey", "l_suppkey")
    val Seq(orOkeyMax, orCkeyMax) = tableMaxes("orders", "o_orderkey", "o_custkey")
    val Seq(cuCkeyMax) = tableMaxes("customer", "c_custkey")
    val Seq(suSkeyMax) = tableMaxes("supplier", "s_suppkey")
    val okeyOff = math.max(liOkeyMax, orOkeyMax) + 1L
    val ckeyOff = math.max(orCkeyMax, cuCkeyMax) + 1L
    val skeyOff = math.max(liSkeyMax, suSkeyMax) + 1L
    val lineitemK = replicateKeyed(spark, src, "lineitem", copies,
      Seq("l_orderkey" -> okeyOff, "l_suppkey" -> skeyOff), out)
    val ordersK = replicateKeyed(spark, src, "orders", copies,
      Seq("o_orderkey" -> okeyOff, "o_custkey" -> ckeyOff), out)
    val customerK = replicateKeyed(spark, src, "customer", copies,
      Seq("c_custkey" -> ckeyOff), out)
    val supplierK = replicateKeyed(spark, src, "supplier", copies,
      Seq("s_suppkey" -> skeyOff), out)
    val nation = spark.read.parquet(s"$src/nation.parquet")
    val part = spark.read.parquet(s"$src/part.parquet")
    val region = spark.read.parquet(s"$src/region.parquet")

    val dupDocs = sys.env.getOrElse("SPARK_GRAFT_STREAM_DOCS", "100000").toLong

    // r16: the hot-gram corpus for the window-skew rows (see their
    // comments). 500k docs of "a b c uniqN": word-3-grams are "a b c"
    // (df = 500k — ONE gram owns half the 1M-row gram stream) and
    // "b c uniqN" (unique); the token stream's hot words a/b/c own 3/4
    // of 2M rows. Deterministic, generated in-plan (16 scan-range
    // partitions so the EXPLODE side is parallel; the skew under test
    // is the post-shuffle key skew, not input skew).
    val hotDocs = sys.env.getOrElse("SPARK_GRAFT_HOT_DOCS", "500000").toLong
    val hotGramDocs = spark.range(0, hotDocs, 1, 16)
      .select(col("id").as("doc_id"),
        concat(lit("a b c uniq"), col("id")).as("text"))

    // r16: deep chain graph for the components-loop shuffle A/B — 1M
    // strict a<b edges in 62.5k chains of 17 nodes (edges within a
    // chain; every 17th id starts a new one), diameter 16
    val chainPairs = spark.range(0, 1062500, 1, 32)
      .filter(pmod(col("id") + 1, lit(17)) =!= 0)
      .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))

    // r16: pathological-document corpus for the bigram_logprob memory
    // row — 16 docs × 200k tokens each, adjacent pairs ~all distinct
    // (word_i = w<(i² + 31·doc) mod 99991>, a quadratic walk over a
    // 100k-word vocab), so each doc contributes ~200k distinct (w1, w2)
    // rows to its per-doc fold. Deterministic, generated in-plan.
    val longDocTokens = sys.env.getOrElse("SPARK_GRAFT_LONGDOC_TOKENS", "200000").toLong
    val longDocs = spark.range(0, 16, 1, 16)
      .select(col("id").as("doc_id"),
        concat_ws(" ", expr(s"transform(sequence(1, $longDocTokens), " +
          "i -> concat('w', pmod(CAST(i AS BIGINT) * i + 31 * id, 99991)))")).as("text"))

    /** Generate (once) the 10-boat fleet corpus; both the batch fleet row
      * and the streaming NMEA row read the SAME directory, so their
      * lines/s compare on identical input. Completion is marked by a
      * sentinel written AFTER the last boat — a run killed mid-generation
      * leaves no marker and the next run regenerates (checking only the
      * last file's existence would accept a truncated corpus).
      */
    def ensureFleet(fleetDir: String, perBoat: Long): String = {
      val marker = java.nio.file.Paths.get(fleetDir, "_FLEET_OK")
      if (!java.nio.file.Files.exists(marker)) {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(fleetDir))
        (0 until 10).foreach(b =>
          generateNmea(f"$fleetDir/boat$b%02d.nmea", perBoat))
        java.nio.file.Files.createFile(marker)
      }
      fleetDir
    }

    /** Date-partitioned copy of the replicated events fact (~31 day
      * dirs), written once; both pruning rows and the DPP row read it.
      */
    def ensureEventsByDate(): String = {
      val d = s"$out/events_by_date"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(d, "_SUCCESS")))
        sources.Layout.writeDatePartitioned(
          events.withColumn("ts_utc", expr("timestamp_micros(ts DIV 1000)")),
          "ts_utc", d)
      d
    }

    /** Bucketed fact tables for the co-location rows: saveAsTable
      * CLUSTERED BY + SORTED BY orderkey INTO 32 BUCKETS. The in-memory
      * catalog forgets tables between sessions while the warehouse
      * DIRECTORY persists (saveAsTable would throw
      * LOCATION_ALREADY_EXISTS); a persistent metastore registers once —
      * the honest equivalent here is dropping the stale location and
      * re-paying the ETL write on the warm pass.
      */
    def ensureBucketedFacts(): Unit = {
      def ensure(df: DataFrame, key: String, table: String): Unit =
        if (!spark.catalog.tableExists(table)) {
          val loc = new org.apache.hadoop.fs.Path(
            spark.conf.get("spark.sql.warehouse.dir"), table)
          loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(loc, true)
          sources.Layout.writeBucketed(df, key, 32, table)
        }
      ensure(lineitemK, "l_orderkey", "lineitem_b32")
      ensure(ordersK, "o_orderkey", "orders_b32")
    }

    // r16: per-row MEMORY telemetry beside the wall time — max per-task
    // peak execution memory and summed spill bytes over the TIMED pass
    // (guide §5: a shape whose buffers cannot spill is an OOM at scale,
    // not a slowdown; the bigram_logprob long-doc rows exist to measure
    // exactly that). The recorder is reset per row, so the counters hold
    // the timed pass of that row only.
    val recorder = GraftRecorder.attach(spark.sparkContext)

    def t(label: String)(f: => Long): (String, () => (Double, Long, JobCounters)) =
      label -> { () =>
        f // warm
        recorder.reset()
        val t0 = System.nanoTime(); val n = f
        val sec = (System.nanoTime() - t0) / 1e9
        (sec, n, recorder.settle())
      }

    /** Scoped runtime-bloom-filter config for the A/B pair below: the
      * application-side size gate (default 10 GB — a cluster guard)
      * must drop for the injection to trigger on this corpus, and
      * broadcast must be off to isolate the no-broadcast fact⋈fact
      * shape the lever exists for. Restored after each row — the
      * session is shared by every other entry.
      */
    def withBloom[A](on: Boolean)(body: => A): A = {
      val confs = Seq(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> on.toString,
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    /** The bloom A/B join: full replicated lineitem against a ~3%
      * orders slice, forced merge join — the selective side's keys
      * prune the fact scan when the runtime filter is on.
      */
    def bloomStar() = lineitemK
      .select(col("l_orderkey"), col("l_extendedprice"))
      .join(ordersK
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 250000.0)
        .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))

    // ---- ANN RECALL CURVES (r9 verdict missing #5): the tuning table a
    // user needs before trusting the pruned paths — recall@10 vs the
    // exact cosine top-10, swept over IVF nprobe and sign-LSH multiprobe
    // radius. Plain replication duplicates every vector verbatim (the
    // exact top-10 degenerates to ten copies of the probe), so the eval
    // corpus is the replicated table with a DETERMINISTIC per-copy
    // per-dimension jitter (±0.03, a quarter of the component std) —
    // each original spawns `copies` distinct near-dups, the honest
    // neighbor structure of a dedup-bearing corpus. Rows report
    // round(1000 × mean recall@10 over 20 probes) as their Long.
    lazy val annEval: (pipeline.IvfIndex.Model, DataFrame, DataFrame,
        Array[(Long, Array[Float])], Map[Long, Set[Long]]) = {
      val target = s"$out/embeddings_jitter"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(target, "_SUCCESS"))) {
        val base = spark.read.parquet(s"$src/embeddings.parquet")
        val vecOff = Option(base.agg(max(col("vec_id"))).head.get(0))
          .map(_.asInstanceOf[Long] + 1L).getOrElse(1L)
        spark.range(copies).crossJoin(base)
          .select(
            (col("vec_id") + col("id") * vecOff).as("vec_id"),
            transform(col("embedding"), (x, i) =>
              (x.cast("double") +
                ((pmod(xxhash64(col("vec_id") + col("id") * vecOff, i),
                  lit(1000003L)).cast("double") / 500001.5) - 1.0) * 0.03)
                .cast("float")).as("embedding"))
          .write.mode("overwrite").parquet(target)
      }
      val vecs = spark.read.parquet(target).localCheckpoint()
      val model = pipeline.IvfIndex.build(vecs, k = 16)
      val assigned = pipeline.IvfIndex.assign(vecs, model).localCheckpoint()
      val lshBucketed = vecs
        .withColumn("bucket", pipeline.Similarity.lshBucket(col("embedding"), 8))
        .localCheckpoint()
      val probes = vecs.filter(col("vec_id") < 20)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      // the exact top-10 of every probe in ONE job: 20 broadcast probes
      // × corpus, per-probe row_number (20 tiny windows, never a corpus
      // single-partition)
      val probeDf = broadcast(vecs.filter(col("vec_id") < 20)
        .select(col("vec_id").as("pid"), col("embedding").as("pemb")))
      val w = Window.partitionBy("pid").orderBy(desc("cos"), col("vec_id"))
      val exact = vecs.crossJoin(probeDf)
        .withColumn("cos", functions.GraftFunctions.vectorCosine(col("embedding"), col("pemb")))
        .filter(!isnan(col("cos")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .select(col("pid"), col("vec_id")).collect()
        .groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
      (model, assigned, lshBucketed, probes, exact)
    }
    def ivfRecall(nprobe: Int): Long = {
      val (model, assigned, _, probes, exact) = annEval
      val hits = probes.map { case (pid, pemb) =>
        val got = pipeline.IvfIndex.topK(assigned, model, pemb, 10, nprobe)
          .collect().map(_.getLong(0)).toSet
        (got intersect exact(pid)).size
      }.sum
      math.round(hits.toDouble / (probes.length * 10) * 1000)
    }
    def lshRecall(hamming: Int): Long = {
      val (_, _, lshBucketed, probes, exact) = annEval
      // probe buckets are rows of the bucketed table itself
      val pBuckets = lshBucketed.filter(col("vec_id") < 20)
        .select(col("vec_id"), col("bucket")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val hits = probes.map { case (pid, pemb) =>
        val pvec = { import spark.implicits._; Seq(Tuple1(pemb)).toDF("__probe") }
        val got = lshBucketed
          .filter(bit_count(col("bucket").bitwiseXOR(lit(pBuckets(pid)))) <= hamming)
          .crossJoin(broadcast(pvec))
          .withColumn("cos", functions.GraftFunctions.vectorCosine(col("embedding"), col("__probe")))
          .filter(!isnan(col("cos")))
          .orderBy(desc("cos"), col("vec_id")).limit(10)
          .collect().map(_.getLong(0)).toSet
        (got intersect exact(pid)).size
      }.sum
      math.round(hits.toDouble / (probes.length * 10) * 1000)
    }

    val ops = Seq(
      t("agg_q1_6m") {
        lineitem.groupBy("l_returnflag", "l_linestatus")
          .agg(sum("l_quantity"), avg("l_extendedprice"), count(lit(1))).count()
      },
      // window ops must CONSUME the window column: a bare count() lets
      // ColumnPruning delete the unreferenced window expression and the
      // "benchmark" degenerates to a scan (caught when the rolling
      // median measured flat at 3× the rows)
      t("window_running_1m") {
        events.withColumn("rs",
          sum("value").over(Window.partitionBy("user_id").orderBy("ts")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter(col("rs") > Double.NegativeInfinity).count()
      },
      t("rolling_median_1m") {
        events.withColumn("med",
          percentile(col("value"), lit(0.5)).over(
            Window.partitionBy("event_type").orderBy("event_id")
              .rowsBetween(-4, Window.currentRow)))
          .filter(col("med") > Double.NegativeInfinity).count()
      },
      // §7.7 scale-safe twins of the two windows judged weak at 100×
      // (partition key = 5 event types caps the naive forms at 5-way
      // parallelism): same results — spec-verified and oracle-checked —
      // with data-proportional parallelism. Chunks track event_id, so the
      // sub-partition count GROWS with replication; buckets subdivide the
      // 10.00-unit band 5× (value range is scale-invariant, so the knob
      // is bucket width, not data size).
      t("rolling_median_sub_1m") {
        pipeline.ScalableWindows.trailingRows(
          events.select(col("event_type"), col("event_id"), col("value")),
          Seq("event_type"), Seq("event_id"),
          col("event_id") / 2000, lookback = 4)(w =>
          Seq(percentile(col("value"), lit(0.5)).over(w).as("med")))
          .filter(col("med") > Double.NegativeInfinity).count()
      },
      t("range_frame_naive_1m") {
        events.select(col("event_id"), col("event_type"),
            round(col("value") * 100).cast("long").as("v_c"))
          .withColumn("band_sum_c", sum("v_c").over(
            Window.partitionBy("event_type").orderBy("v_c")
              .rangeBetween(-1000L, Window.currentRow)))
          .filter(col("band_sum_c") > Long.MinValue).count()
      },
      t("range_frame_bucketed_1m") {
        pipeline.ScalableWindows.trailingRangeSumCount(
          events.select(col("event_id"), col("event_type"),
            round(col("value") * 100).cast("long").as("v_c")),
          Seq("event_type"), "v_c", band = 1000L, bucketWidth = 200L,
          "band_sum_c", "band_n")
          .filter(col("band_sum_c") > Long.MinValue).count()
      },
      t("asof_composed_1m") {
        operators.AsofJoin.backward(
          events.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts"), col("event_id").as("p_id")),
          events.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts"), col("event_id")),
          Seq("user_id"), "ts", "ts", tieBreak = Seq("event_id")).count()
      },
      t("asof_native_1m") {
        plans.AsofMergeJoin.backward(
          events.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts"), col("event_id").as("p_id")),
          events.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts"), col("event_id")),
          Seq("user_id"), "ts", "ts", tieBreak = Seq("event_id")).count()
      },
      t("band_join_1m") {
        pipeline.BandJoin.absBand(
          events.select(col("user_id"), col("ts"), col("event_id").as("a_id")),
          events.select(col("user_id"), col("ts"), col("event_id").as("b_id")),
          Seq("user_id"), "ts", "ts", 60L * 1000000000L).count()
      },
      // dedup at scale returns CLUSTERS/SURVIVORS, never the all-pairs
      // list: this corpus is so duplicated that pairs are quadratic
      // (2× corpus → 11M pairs from 10k docs; 10× would be ~300M)
      // r16 (verdict item 4): the components loop's edges-shuffle-once
      // shape, measured on a DEEP synthetic graph (62.5k chains × 17
      // nodes → 1M edges, diameter 16 → the loop runs ~5 pointer-jump
      // rounds, not the fixture's 2); shuffle_written stays O(1) in
      // rounds. dedupEdges=false as at both product call sites (strict
      // a<b unique edges).
      t("cc_chain_1m_edges_prepart") {
        pipeline.Dedup.clusters(chainPairs, "a_id", "b_id",
          dedupEdges = false).count()
      },
      t("lsh_clusters_50k_docs") {
        pipeline.Dedup.lshClusters(documents, "doc_id", "text").count()
      },
      t("lsh_survivors_50k_docs") {
        pipeline.Dedup.lshSurvivors(documents, "doc_id", "text").count()
      },
      t("lsh_clusters_fast_50k") {
        pipeline.Dedup.lshClustersFast(documents, "doc_id", "text").count()
      },
      // the pair list as the product stays viable on a bounded slice
      t("minhash_pairs_5k_slice") {
        pipeline.Dedup.nearDuplicates(
          documents.filter(col("doc_id") < 5000), "doc_id", "text", 0.8, 16, 4).count()
      },
      // r16 PPJoin on the UNREPLICATED 1× corpus — already the skewed
      // validation corpus the prefix filter exists for (5000 docs; the
      // hottest 3-gram sits in 96% of them, so a gram-equi-join's
      // fan-out is Σ df² = 1.10 G ordered pairs at 1× and 110 G at the
      // 10× replica, while the prefix fan-out is 22× smaller, 49.8 M).
      // Runs the exact code of the dedup_ngram oracle key, unbounded.
      t("ngram_pairs_ppjoin_5k_docs") {
        operators.DedupQueries.ngramJaccardPpjoin(documents1x).count()
      },
      // same code paths as the oracle keys (core extraction), so the
      // benchmarked plans can never drift from the verified ones
      t("zscore_outliers_1m") {
        operators.EventTimeQueries.zscoreCore(events).count()
      },
      t("bigram_pmi_50k_docs") {
        operators.TextAnalysisQueries.bigramPmiCore(documents).count()
      },
      t("ann_lsh_topk_20k") {
        val probe = embeddings.filter(col("vec_id") === 0)
        pipeline.Similarity.annTopK(embeddings, probe, 10).count()
      },
      // int8-quantized brute force beside the float one: same corpus,
      // same probe. End-to-end (quantize at scan + integer dot — the
      // sim_quantized_topk key's exact plan) pays the transform each
      // query; the deployment shape quantizes ONCE (the ETL write, 4×
      // smaller on disk) and probes the materialized int8 table — the
      // lazy val below materializes in the warm pass, so the timed pass
      // measures the probe alone, like every post-ETL query would.
      t("quantized_topk_20k") {
        operators.PipelineQueries.quantizedTopkCore(embeddings).count()
      },
      t("quantized_probe_20k") {
        operators.PipelineQueries.quantizedProbeTopk(quantizedStore).count()
      },
      t("float_brute_topk_20k") {
        val probe = embeddings.filter(col("vec_id") === 0)
          .select(col("embedding").as("probe"))
        embeddings.crossJoin(broadcast(probe))
          .select(col("vec_id"),
            pipeline.Similarity.dot(col("embedding"), col("probe")).as("dp"))
          .orderBy(desc("dp"), asc("vec_id")).limit(10).count()
      },
      // the IVF (k-means inverted file) scale path beside the sign-LSH
      // one: build once per timing pass (fit cost is part of the story),
      // probe scans nprobe=4 of 16 cells
      t("ivf_topk_20k") {
        val model = pipeline.IvfIndex.build(embeddings, k = 16)
        val assigned = pipeline.IvfIndex.assign(embeddings, model)
        val probe = embeddings.filter(col("vec_id") === 0)
          .select(col("embedding")).head.getSeq[Float](0).toArray
        pipeline.IvfIndex.topK(assigned, model, probe, 10, nprobe = 4).count()
      },
      // skewed shuffle join: HALF the fact lands on one hot key; the
      // merge hint forbids the broadcast escape hatch so the shuffle
      // skew is real. The plain form relies on AQE's runtime skew split
      // (spark.sql.adaptive on by default here as at 100 TB); the salted
      // twin spreads the hot key across 16 buckets explicitly — the tool
      // when a single reducer key dominates and AQE cannot help (e.g.
      // skewed aggregation state, not just join input size)
      t("skew_join_hot_key_aqe") {
        val skewed = events.select(
          when(pmod(col("event_id"), lit(2)) === 0, 0L)
            .otherwise(pmod(col("event_id"), lit(1000L))).as("k"), col("value"))
        val dim = spark.range(1000).select(col("id").as("k"), (col("id") * 7).as("payload"))
        skewed.join(dim.hint("merge"), "k").count()
      },
      t("skew_join_hot_key_salted") {
        val skewed = events.select(
          when(pmod(col("event_id"), lit(2)) === 0, 0L)
            .otherwise(pmod(col("event_id"), lit(1000L))).as("k"), col("value"),
          col("event_id"))
        val dim = spark.range(1000).select(col("id").as("k"), (col("id") * 7).as("payload"))
        pipeline.Skew.saltedJoin(skewed, dim.hint("merge"), "k", col("event_id")).count()
      },
      // the §2.12 star shape at 10×: one fact-fact shuffle on orderkey,
      // every dimension broadcast — the plan that must hold at 100 TB.
      // Same code path as the oracle key, so the benchmarked plan can
      // never drift from the verified one.
      t("star_q5_6m") {
        operators.ComposedQueries.regionalRevenueCore(
          lineitemK, ordersK, customerK, supplierK, nation, region).count()
      },
      // Q8 at 10×: the 7-table grouped-share star. part stays
      // un-replicated (dimension universes grow slower than facts — the
      // broadcast-dim posture above), so replicated lineitem copies all
      // resolve against the same part rows.
      t("star_q8_6m") {
        operators.ComposedQueries.marketShareCore(
          lineitemK, ordersK, customerK, supplierK, nation, region, part).count()
      },
      // Q19 at 10×: the OR-of-ANDs predicate split — part-side filter
      // before the join, quantity envelope at the lineitem scan.
      t("star_q19_6m") {
        operators.ComposedQueries.bracketFilterCore(lineitemK, part).count()
      },
      // Q4 at 10×: the correlated-inequality EXISTS semi join — one
      // orderkey shuffle of two thin projections.
      t("star_q4_semi_6m") {
        operators.ComposedQueries.orderPriorityCore(lineitemK, ordersK).count()
      },
      // Q13 at 10×: orders pre-aggregated per custkey BEFORE the outer
      // join with customer; count-distribution agg domain stays tiny.
      t("star_q13_outer_6m") {
        operators.ComposedQueries.custDistributionCore(ordersK, customerK).count()
      },
      // Q21 at 10×: per-order supplier profile + only-late-supplier
      // join sharing the orderkey partitioning.
      t("star_q21_profile_6m") {
        operators.ComposedQueries.waitingSuppliersCore(
          lineitemK, ordersK, supplierK).count()
      },
      // Q9 at 10×: the part filter shrinks the fact before the orderkey
      // shuffle; profit stays exact-integer end-to-end.
      t("star_q9_profit_6m") {
        operators.ComposedQueries.productProfitCore(
          lineitemK, ordersK, part, supplierK, nation).count()
      },
      // Q15 at 10×: per-supplier quarter revenue + scalar-max filter —
      // the whole reduction is two tiny aggregates over one fact scan.
      t("star_q15_top_6m") {
        operators.ComposedQueries.topSupplierCore(lineitemK, supplierK).count()
      },
      // Q16 at 10×: the distinct (partkey, suppkey) pre-shrink is the
      // fact pass; anti + broadcast dims after.
      t("star_q16_variety_6m") {
        operators.ComposedQueries.supplierVarietyCore(
          lineitemK, part, supplierK).count()
      },
      // PARTITION PRUNING measured end-to-end (round-7 verdict gap: the
      // Layout machinery existed but no entry read a partitioned copy).
      // The replicated events fact is written ONCE date-partitioned
      // (~31 day dirs); three entries then measure the same 3-day
      // aggregate three ways. At 100 TB the pruned scan reads 3/31 of
      // the fact's files at LISTING time — the first lever SURVEY §4
      // names for a time-series fact.
      // BUCKETED CO-LOCATION measured end-to-end — the second storage
      // lever next to partition pruning: both fact tables saveAsTable'd
      // CLUSTERED BY + SORTED BY orderkey INTO 32 BUCKETS (the ETL
      // write, paid on the warm pass). Honest attribution at THIS scale
      // (plan-dumped): the date-filtered orders side broadcasts in both
      // plans, so the measured 2.06 → 1.2-1.4 s win is the LAYOUT —
      // orderkey-sorted, right-sized bucket files vs the replicated
      // corpus's write layout. The exchange-free co-located SMJ — the
      // lever that matters at 100 TB where neither fact side broadcasts
      // — is asserted directly in LayoutSpec's bucketed-join plan audit.
      t("star_q5_bucketed_6m") {
        ensureBucketedFacts()
        operators.ComposedQueries.regionalRevenueCore(
          spark.table("lineitem_b32"), spark.table("orders_b32"),
          customerK, supplierK, nation, region).count()
      },
      // the EXCHANGE-ELIMINATION case isolated: at 100 TB neither fact
      // side broadcasts, so force the merge join both ways. Plain plans
      // one orderkey Exchange+Sort per side; the bucketed+sorted tables
      // plan NEITHER (co-located AND pre-sorted — LayoutSpec asserts the
      // zero-Exchange plan; this pair prices it at 6M×1.5M).
      t("bucket_smj_plain_6m") {
        lineitemK.select(col("l_orderkey"), col("l_extendedprice")).hint("merge")
          .join(ordersK.select(col("o_orderkey"), col("o_totalprice")).hint("merge"),
            col("l_orderkey") === col("o_orderkey")).count()
      },
      t("bucket_smj_bucketed_6m") {
        ensureBucketedFacts()
        spark.table("lineitem_b32").select(col("l_orderkey"), col("l_extendedprice")).hint("merge")
          .join(spark.table("orders_b32").select(col("o_orderkey"), col("o_totalprice")).hint("merge"),
            col("l_orderkey") === col("o_orderkey")).count()
      },
      // RUNTIME BLOOM-FILTER join pruning priced A/B (r9 verdict
      // missing #2) — the third shuffle lever after partition pruning
      // and bucketing, and the first that helps a fact⋈fact star where
      // NEITHER side broadcasts: the ~3% orders slice builds a bloom
      // filter the lineitem side consumes as a scan-level might_contain
      // semi-filter, so non-matching fact rows drop BEFORE the orderkey
      // shuffle (shuffle bytes ∝ match set, not ∝ fact).
      // BloomFilterJoinSpec pins the plan shape and result equality;
      // this pair prices it on the identical no-broadcast merge join.
      t("bloom_smj_on_6m") { withBloom(true) { bloomStar().count() } },
      t("bloom_smj_off_6m") { withBloom(false) { bloomStar().count() } },
      t("prune_static_3day_1m") {
        sources.Layout.readPartitioned(spark, ensureEventsByDate())
          .filter(col("p_date").between("2024-01-10", "2024-01-12"))
          .agg(count(lit(1)), sum("value")).collect()(0).getLong(0)
      },
      // the unpruned twin: identical 3-day aggregate off the FLAT copy —
      // the filter still pushes down to parquet row groups, but every
      // file is listed and its footer read; the static row's speedup
      // over this is the pruning win at this scale
      t("prune_unpruned_3day_1m") {
        events.withColumn("ts_utc", expr("timestamp_micros(ts DIV 1000)"))
          .filter(to_date(col("ts_utc")).between("2024-01-10", "2024-01-12"))
          .agg(count(lit(1)), sum("value")).collect()(0).getLong(0)
      },
      // DYNAMIC partition pruning: the 3 days arrive through a filtered
      // calendar-dim join (attribute filter the fact cannot see
      // statically) — the broadcast side's values prune the fact's
      // partitions at runtime (dynamicpruningexpression, plan-audited in
      // LayoutSpec; this row measures it at 10×)
      t("prune_dpp_3day_1m") {
        val fact = sources.Layout.readPartitioned(spark, ensureEventsByDate())
        val dim = events.select(
            expr("to_date(timestamp_micros(ts DIV 1000))").as("d_date")).distinct()
          .withColumn("d_tag",
            when(col("d_date").between("2024-01-10", "2024-01-12"), lit("pick"))
              .otherwise(lit("skip")))
        fact.join(dim, col("p_date") === col("d_date"))
          .filter(col("d_tag") === "pick")
          .agg(count(lit(1)), sum("value")).collect()(0).getLong(0)
      },
      // the band-join OPTIMIZER RULE at 1M events: the plain inequality
      // join Spark would nested-loop (~200k × 200k compares at 10×)
      // runs as the rewritten bucketed equi-join — same code path as
      // the join_band_native oracle key, rule and all.
      t("band_rule_1m") {
        operators.JoinQueries.bandNativeCore(events).count()
      },
      // the point-in-interval RULE at 1M events: ~200k attribution
      // windows × ~200k clicks nested-loop in stock Spark; the
      // IntervalJoinRewrite bucketed plan joins on the bin hash.
      t("interval_rule_1m") {
        operators.JoinQueries.intervalNativeCore(events).count()
      },
      // SCD2 dimension build at 1M events: change-collapse + validity
      // intervals in one user_id shuffle shared by both windows.
      t("scd2_1m") {
        operators.ComposedQueries.scd2Core(events).count()
      },
      // global epoch shuffle at 10× (50k docs): the bucketed global
      // rank — 256 parallel windows + a broadcast offset table, never a
      // single-partition sort of the corpus.
      t("shuffle_order_50k") {
        operators.SamplingQueries.shuffleOrderCore(documents).count()
      },
      // greedy token-budget selection: the bucketed global prefix sum —
      // parallelism = #(n_chars DIV 64) buckets, never one partition
      t("token_budget_50k_docs") {
        operators.SamplingQueries.tokenBudgetCore(documents).count()
      },
      // temperature mixing: two tiny aggregates + broadcast membership
      // filter — expect scan-bound flatness
      t("temperature_mix_50k_docs") {
        pipeline.Sampling.temperature(documents, col("lang"), col("doc_id"), 0.5)
          .count()
      },
      // incremental dedup at scale: the batch half against the corpus
      // half via exact-collapse + banded-LSH blocking (the
      // dedup_incremental key's scale twin — candidates by bucket
      // co-occurrence over UNIQUE texts; the uncollapsed form is c² in
      // the copy count and unusable on this replicated corpus)
      t("incremental_dedup_50k_docs") {
        val split = documents.agg(expr("(max(doc_id)+1) DIV 2")).head.getLong(0)
        pipeline.Dedup.incrementalBestMatchCollapsed(
          documents.filter(col("doc_id") >= split),
          documents.filter(col("doc_id") < split),
          "doc_id", "text", 0.8).count()
      },
      // rolling 7-day distinct actives at 1M events: linear (user, day)
      // dedup + bounded 7× expansion.
      t("rolling_active_1m") {
        operators.EventTimeQueries.rollingActiveCore(events).count()
      },
      // nested-JSON digest at 1M events (round-7 key): two keyed hash
      // aggregates; digest size bounded by event-type cardinality, so
      // output stays #users rows however the event count grows.
      t("nested_digest_1m") {
        events.groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("user_id"))
          .agg(to_json(array_sort(collect_list(struct(col("event_type"), col("cnt")))))
            .as("digest"))
          .count()
      },
      // repetition diagnostics + BM25 at 10× (50k docs, full corpus):
      // grouped gram counts and scan-filtered postings must stay linear.
      t("repetition_50k_docs") {
        operators.TextAnalysisQueries.repetitionCore(documents).count()
      },
      t("bm25_50k_docs") {
        operators.TextAnalysisQueries.bm25Core(documents).count()
      },
      // decontamination at 10× (50k docs, full — no doc_id bound): the
      // gram equi-join with the mod-7 eval side broadcast must stay
      // blocked (never all-pairs) as the corpus grows.
      t("contamination_50k_docs") {
        operators.TextAnalysisQueries.contaminationCore(documents).count()
      },
      // chunked sequence packing at 10×: parallelism = #(source, chunk)
      // sub-ranges, not #sources — the scale form of the text_pack key.
      t("pack_chunked_50k_docs") {
        pipeline.Packing.packChunked(
          documents.select(col("source"), col("doc_id"),
            expr("size(filter(split(text, ' '), w -> w <> ''))").cast("long")
              .as("n_tokens")),
          budget = 256L, chunkSize = 1000L).count()
      },
      // median+MAD at 1M events: the corpus cost is ONE histogram build;
      // both medians and the deviation histogram run over bins, so the
      // curve must track the (type, cents) agg alone. (filter on mad_c
      // forces the second-order statistics)
      t("mad_1m") {
        operators.AggQueries.madCore(events)
          .filter(col("mad_c") >= 0).count()
      },
      // dyadic-quantile histogram at 1M events: same posture as mad_1m —
      // cost pins to the histogram build, not the row count
      t("quartiles_1m") {
        operators.AggQueries.quartilesCore(events)
          .filter(col("q50_c") >= col("q25_c")).count()
      },
      // cohort retention matrix at 1M events: the (user, week) dedup is
      // the data-sized stage; everything after runs over ≤ users×weeks
      // rows, so the curve must track the dedup agg, not the windows.
      // (summing retention forces the week-0 window — a bare count would
      // prune it)
      t("cohort_matrix_1m") {
        operators.EventTimeQueries.cohortMatrixCore(events)
          .agg(sum(col("retention")).as("s"), count(lit(1)).as("n"))
          .head.getLong(1)
      },
      // dwell-median histogram at 1M events: one user-window pass + a
      // (type, second) histogram whose size is time-range-bound — the
      // exact-median cost must stay pinned to the lag shuffle as rows
      // grow. (filter on median_s forces the order-statistic picks)
      t("dwell_median_1m") {
        operators.EventTimeQueries.dwellMedianCore(events)
          .filter(col("median_s") >= 0).count()
      },
      // LTV deciles over the keyed 1.5M-order corpus: per-customer agg,
      // then the bucketed global rank — never a single-partition window;
      // cost must track the custkey agg. (summing the revenue forces the
      // per-decile profile)
      t("revenue_deciles_1m5_orders") {
        operators.ComposedQueries.revenueDecilesCore(ordersK)
          .agg(sum(col("sum_rev_c")).as("s"), count(lit(1)).as("n"))
          .head.getLong(1)
      },
      // round-robin interleave at 10× (50k docs): rank cells are
      // (source, doc_id DIV 4096) — cell count grows with the corpus, so
      // parallelism does too; must stay linear, position math is free.
      t("interleave_50k_docs") {
        operators.SamplingQueries.interleaveCore(documents)
          .filter(col("pos") >= 0).count()
      },
      // boilerplate 3-gram df at 10× (50k docs): per-doc dedup in the
      // array + ONE count window over gram (r8 rework, 4→2 wide edges)
      // must stay linear in total grams — the decontamination shape
      // turned on the corpus itself.
      t("boilerplate_50k_docs") {
        operators.TextAnalysisQueries.boilerplateCore(documents).count()
      },
      // r16 window-skew pricing: the df-count WINDOW of
      // boilerplate/tfidf/unigram_logprob pins every row of a hot
      // gram/word to ONE task, and AQE skew handling never applies to
      // windows — only to joins. The fixtures cannot show it (their
      // hottest gram holds ~2% of gram rows), so these rows run the
      // declared shapes on a SYNTHETIC hot-gram corpus where one gram
      // owns HALF the gram stream (hotDocs docs of "a b c uniqN": grams
      // "a b c" [df = hotDocs] + "b c uniqN" [unique]); read the hot
      // task's straggler time in the row output. (The filters read the
      // window's output: a bare count() lets the optimizer prune the
      // window away.)
      t("boilerplate_window_hotgram_500k") {
        operators.TextAnalysisQueries.boilerplateCore(hotGramDocs)
          .filter(col("n_boiler") >= 0).count()
      },
      // the same exposure one shape over: unigram_logprob's corpus
      // word-count window, on a stream where the three hot words own
      // 3/4 of all token rows
      t("unigram_window_hotword_500k") {
        operators.TextAnalysisQueries.unigramLogprobCore(hotGramDocs)
          .filter(col("sum_logp") <= 0).count()
      },
      // bigram-LM scoring at 10× (50k docs): the w1-window shape must
      // stay linear in bigram volume — one bigram agg + one w1 exchange
      // serving BOTH corpus statistics (plan-audited), like unigram's
      // tf-idf shape one order higher.
      t("bigram_logprob_50k_docs") {
        operators.TextAnalysisQueries.bigramLogprobCore(documents).count()
      },
      // the long-document MEMORY bound of the per-doc fold: 16 docs ×
      // 200k tokens whose bigrams are ~all distinct, so each doc's
      // (w1, w2, term) stream is one window partition — a spillable
      // sort + O(1) running sum. Read peak_task_mem / spilled in the
      // row output.
      t("bigram_logprob_longdocs") {
        operators.TextAnalysisQueries.bigramLogprobCore(longDocs).count()
      },
      // BPE pair counting at 10× (50k docs): the pair fan-out runs over
      // the VOCAB (types), so past the word aggregate the cost is
      // scale-INVARIANT — corpus growth only deepens the word counts.
      // Time must track the token-stream agg (≈ wordcount), never the
      // pair explode.
      t("bpe_pairs_50k_docs") {
        operators.TextAnalysisQueries.bpePairsCore(documents).count()
      },
      // k-means assignment at 10× embeddings (20k × 8 centroids): the
      // 8-row centroid broadcast over one scan — linear in vectors, the
      // IvfIndex.assign shape with the arithmetic the oracle certifies.
      t("kmeans_assign_20k_vecs") {
        operators.PipelineQueries.kmeansAssignCore(embeddings).count()
      },
      // the Lloyd UPDATE half at 10×: in-row argmin then the (cid, pos)
      // component aggregate — map-side partials collapse each partition
      // to ≤ 8×64 rows, so the shuffle is scale-invariant.
      t("kmeans_update_20k_vecs") {
        operators.PipelineQueries.kmeansUpdateCore(embeddings).count()
      },
      // BPE TRAINING at 10× (50k docs, 8 merges): after the one corpus
      // aggregate every round runs over the VOCAB table, so the
      // per-merge cost must be corpus-size-INVARIANT — time ≈ the vocab
      // collapse + 8 small vocab jobs. (learn() returns the merges; the
      // row scores by tokenizing the corpus with them: one scan.)
      t("bpe_learn8_apply_50k_docs") {
        val merges = pipeline.Bpe.learn(documents, "text", 8)
        pipeline.Bpe.applyMerges(documents, "text", "doc_id", merges)
          .agg(sum(col("n_bpe_tokens"))).head.getLong(0)
      },
      // the FULL training-data assembly path at 10×: learn a tokenizer
      // (driver-local over the vocab table), tokenize the corpus through
      // the native BpeEncode, then pack the real token counts into
      // 2048-token sequences with the chunked (scale-path) packer —
      // corpus scan → token counts → chunk-local fold → tiny offsets.
      t("bpe_tokenize_pack_50k_docs") {
        val merges = pipeline.Bpe.learnLocal(documents, "text", 64)
        val counted = pipeline.Bpe.applyMerges(documents, "text", "doc_id", merges)
          .join(documents.select(col("doc_id"), col("source")), "doc_id")
          .select(col("source"), col("doc_id"), col("n_bpe_tokens").as("n_tokens"))
        pipeline.Packing.packChunked(counted, budget = 2048L, chunkSize = 1000L)
          .count()
      },
      // the production trainer shape at 10×: one vocab job, then 256
      // merges driver-local over the types table — the 100 TB plan
      // (one-cluster-job-per-merge is a job-launch bound, not a data
      // bound; the local loop is O(total syms) per merge).
      t("bpe_learnlocal256_50k_docs") {
        pipeline.Bpe.learnLocal(documents, "text", 256).length.toLong
      },
      // robust outliers at 1M events: the two-scan-plus-broadcast shape —
      // stats from the one-scan (type, cents) histogram (mad_1m's curve),
      // broadcast back onto a second scan whose count is the only wide
      // edge. Time should track ~2× the mad curve, never the corpus².
      t("robust_outliers_1m") {
        operators.AggQueries.robustOutliersCore(events).count()
      },
      // cumulative-uniques growth curve at 1M events: one user edge
      // carries the fact; everything after is calendar-bounded.
      t("cumulative_uniques_1m") {
        operators.EventTimeQueries.cumulativeUniquesCore(events).count()
      },
      // shape moments at 1.5M orders: exact integer power sums — one
      // partial-aggregable exchange, scan-bound like any two-phase agg.
      t("moments_1m5_orders") {
        operators.AggQueries.momentsCore(ordersK)
          .filter(col("kurt_excess") > -1e9).count()
      },
      // IVF probe at 20k vectors: one broadcast artifact row + one scan
      // with in-row assignment/cut — should stay near the kmeans-assign
      // curve (broadcast shape, no exchange before the top-k).
      t("ivf_topk_20k_vecs") {
        operators.PipelineQueries.ivfTopkCore(embeddings).count()
      },
      // the recall@10 TUNING TABLE (rows report 1000×recall as their
      // Long; seconds are the 20-probe sweep): IVF sweeps the
      // probed-cell count, LSH the multiprobe Hamming radius — read
      // together with the probe COST rows above, these are the
      // recall/latency curve a user picks an operating point from.
      t("ivf_recall10_x1000_nprobe1_20k") { ivfRecall(1) },
      t("ivf_recall10_x1000_nprobe2_20k") { ivfRecall(2) },
      t("ivf_recall10_x1000_nprobe4_20k") { ivfRecall(4) },
      t("ivf_recall10_x1000_nprobe8_20k") { ivfRecall(8) },
      t("lsh_recall10_x1000_hamming0_20k") { lshRecall(0) },
      t("lsh_recall10_x1000_hamming1_20k") { lshRecall(1) },
      t("lsh_recall10_x1000_hamming2_20k") { lshRecall(2) },
      // PSI drift monitor at 1M events: one scan into a ≤10-row bin agg —
      // should track the scan floor, never the corpus.
      t("drift_psi_1m") {
        operators.EventTimeQueries.driftPsiCore(events)
          .filter(col("psi_term") > -1e9).count()
      },
      // per-column profile at 1.5M orders: all four columns' stats on ONE
      // scan; the ×5 multi-distinct Expand is the exact-answer price the
      // key documents (approx_count_distinct drops it at 100 TB).
      t("quality_profile_1m5_orders") {
        operators.CoreQueries.qualityProfileCore(ordersK).count()
      },
      // vocab coverage at 10× (50k docs): the count-of-counts class table
      // is bounded by distinct count VALUES, so past the word-count agg
      // the curve costs ~nothing extra as the corpus grows.
      t("vocab_coverage_50k_docs") {
        operators.TextAnalysisQueries.vocabCoverageCore(documents,
          spark.range(1).select(explode(array(
            lit(10L), lit(100L), lit(1000L), lit(10000L))).as("k")))
          .filter(col("coverage") >= 0).count()
      },
      // Gopher rule battery at 10×: a pure per-row scan — the row exists
      // to certify it STAYS scan-bound (time ≈ scan time) as data grows.
      t("gopher_rules_50k_docs") {
        operators.TextAnalysisQueries.gopherRulesCore(documents).count()
      },
      // codepoint-class tokenizer throughput vs the oracle-pinned
      // whitespace split, same 50k-doc scan-shaped aggregate: prices
      // what Unicode-honest segmentation costs where the regex engine
      // is the per-row work (both scan-bound, zero shuffle).
      t("tokenize_unicode_50k_docs") {
        documents.select(size(pipeline.Tokenize.unicodeTokens(col("text"))).as("n"))
          .agg(sum(col("n"))).collect()(0).getLong(0)
      },
      t("tokenize_whitespace_50k_docs") {
        documents.select(size(pipeline.Tokenize.whitespaceTokens(col("text"))).as("n"))
          .agg(sum(col("n"))).collect()(0).getLong(0)
      },
      // epoch upsampling at 10×: broadcast counts + scan-level sequence
      // explode; output grows by the replication factor, input never
      // shuffles.
      t("epochs_50k_docs") {
        pipeline.Sampling.epochs(documents, col("lang"), col("doc_id"),
          cap = 3L).count()
      },
      // label-blocked exact kNN at 10× corpus, FIXED 2k probe slice:
      // per-probe cost grows linearly with the block (10× pairs vs the
      // sf0.1 key), which is the deployable posture — probe batches are
      // bounded per task. The FULL 20k×20k self-graph is the quadratic
      // ceiling, measured once at 88 s (BASELINE.md) — past that scale
      // the per-label graph is the ANN indexes' job (ann_lsh_topk /
      // ivf_topk rows above), probing buckets instead of whole blocks.
      t("knn_label_probe2k_corpus20k") {
        operators.PipelineQueries.knnLabelAgainst(
          embeddings.filter(col("vec_id") < 2000), embeddings).count()
      },
      // hard-negative mining at 10× corpus, the key's own 200-probe
      // slice: cost = one corpus scan × 200 broadcast probes — must
      // stay linear in corpus size.
      t("hard_negatives_probe200_corpus20k") {
        operators.PipelineQueries.hardNegativesCore(
          embeddings.filter(col("vec_id") < 200), embeddings).count()
      },
      // unigram-LM scoring at 10× (50k docs): the tf-idf shuffle shape
      // with a sorted-array fold instead of a max — must stay linear in
      // token volume.
      // (sum the score to force the fold — a bare count would let
      // Catalyst prune the collect+aggregate column, as pipeline_clean's
      // comment documents)
      t("unigram_logprob_50k_docs") {
        operators.TextAnalysisQueries.unigramLogprobCore(documents)
          .agg(sum(col("sum_logp")).as("s"), count(lit(1)).as("n"))
          .head.getLong(1)
      },
      // the composed cleaning decision at 10×: cost ≈ max(sub-plans),
      // dominated by the gram-df gate; the doc_id rejoins add no
      // super-linear term. Summing `keep` (not count()) forces every
      // gate: a bare count lets Catalyst prune the unused gate columns
      // and ELIMINATE the left join + window entirely (measured 0.87 s
      // of nothing).
      // (sum of the three gate columns, not `keep`: on the replicated
      // corpus every 3-gram is shared by the 10 copies, so r_boiler=0
      // and keep=0 for every doc — correct on a 10×-duplicated corpus,
      // but a 0 rows metric would read as a broken row)
      t("pipeline_clean_50k_docs") {
        operators.PipelineQueries.cleanCore(documents)
          .agg(sum(col("r_quality") + col("r_survivor") + col("r_boiler")))
          .head.getLong(0)
      },
      // fleet-scale marine e2e: 10 boats × (copies × 40k) NMEA lines
      // (multi-day — the generator rolls ~80k lines/day), every stage
      // keyed by boat_id so the whole pipeline is 10-way-parallel per
      // stage boundary, replay docs as the sink. Corpus cached like the
      // parquet tables; perfbench marine_log is the checked single-log
      // lines-per-sec anchor, this row is the fleet growth curve.
      t(s"marine_fleet_10boat_${copies * 400000L / 1000}k_lines") {
        val fleetDir = ensureFleet(s"$out/fleet", copies * 40000L)
        val wide = marine.Marine.wideTableByKey(
          marine.Marine.readFleet(spark, fleetDir), Seq("boat_id"))
        val races = marine.Races.splitByKey(
          wide.filter(col("lat").isNotNull), Seq("boat_id"))
        marine.Races.replayDocsByKey(races, Seq("boat_id"),
          Seq("lat", "lon", "sog", "tws", "twa", "vmg")).count()
      },
      // fleet polar-performance rollup (r9): the coach's number over the
      // same fleet corpus — derive channels, split races, score every
      // fix against the bilinear polar target, roll up per (boat, race).
      // Pure scan-level arithmetic on top of the fleet pipeline's one
      // (boat, race) aggregate; expect ≈ the fleet row's envelope.
      t(s"fleet_polar_perf_${copies * 400000L / 1000}k_lines") {
        val fleetDir = ensureFleet(s"$out/fleet", copies * 40000L)
        val wide = marine.Marine.wideTableByKey(
          marine.Marine.readFleet(spark, fleetDir), Seq("boat_id"))
        val races = marine.Races.splitByKey(
          wide.filter(col("lat").isNotNull), Seq("boat_id"))
        marine.Races.performanceByKey(races, Seq("boat_id")).count()
      },
      // streaming NMEA ingest rate: the live-boat pipeline (file-source
      // tail → the SAME parse expressions as batch → watermarked
      // per-minute speed aggregates) over the SAME fleet corpus as the
      // batch fleet row above, so the lines/s numbers sit side by side
      // in BASELINE.md (round-6 verdict gap: batch fleet had a rate,
      // streaming ingest did not). n = MEASURED input rows summed from
      // the query progress, not the nominal corpus size — a truncated
      // corpus would otherwise record an inflated rate silently.
      t(s"stream_nmea_ingest_${copies * 400000L / 1000}k_lines") {
        val fleetDir = ensureFleet(s"$out/fleet", copies * 40000L)
        val ckpt = java.nio.file.Files
          .createTempDirectory("stream-nmea-ckpt").toString
        val q = graft.streaming.NmeaStream.minuteStats(
            graft.streaming.NmeaStream.parsedStream(spark, fleetDir))
          .writeStream.format("noop")
          .option("checkpointLocation", ckpt)
          .outputMode("append").start()
        q.processAllAvailable()
        val n = q.recentProgress.map(_.numInputRows).sum
        q.stop()
        rmTree(ckpt)
        n
      },
      // streaming dedup-on-ingest throughput: 100k synthetic docs
      // (20k template families of ~5 near-dup members — controlled dup
      // density, NOT the replicated corpus whose copies² candidates
      // degenerate any pairwise confirm) streamed through the real file
      // source into DedupStream; wall covers ingest + LSH state +
      // candidate emission to a noop sink. Family-SPECIFIC tokens must
      // dominate each doc (6 of 7 here): tokens shared by every doc
      // would win most minhash components and collapse the whole corpus
      // into one bucket, degenerating per-bucket matching to O(n²)
      // (measured: a 4-shared-token variant ran >15 min)
      t("stream_dedup_ingest_100k") {
        import spark.implicits._
        val n = 100000L
        val dir = s"$out/stream_docs_v2"
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS")))
          spark.range(n).select(
            col("id").as("doc_id"),
            expr("timestamp_micros(1700000000000000 + id * 1000000)").as("ts"),
            concat_ws(" ",
              (0 until 6).map(i =>
                concat(lit(s"t${i}_"), pmod(col("id"), lit(20000L)))) :+
                concat(lit("salt"), col("id")): _*).as("text"))
            .coalesce(8).write.mode("overwrite").parquet(dir)
        val ckpt = java.nio.file.Files
          .createTempDirectory("stream-dedup-ckpt").toString
        val src = spark.readStream
          .schema("doc_id LONG, ts TIMESTAMP, text STRING")
          .option("maxFilesPerTrigger", 2)
          .parquet(dir)
          .as[graft.streaming.StreamDoc]
        val q = graft.streaming.DedupStream.matches(src, 0.5)
          .writeStream.format("noop")
          .option("checkpointLocation", ckpt)
          .outputMode("append").start()
        q.processAllAvailable()
        // measured docs from the query progress, like the NMEA row
        val read = q.recentProgress.map(_.numInputRows).sum
        q.stop()
        rmTree(ckpt)
        read
      },
      // VERBATIM-duplicated ingest: N docs = N/10 distinct texts × 10
      // copies — the corpus shape whose copies made the round-6
      // (uncollapsed) index grow with stream length. With in-state
      // exact-collapse the index holds ONE entry per distinct text per
      // band bucket; the returned n is the measured index entry count,
      // read back through the state-store source, certifying the
      // distinct-texts bound at scale (the unit spec proves it exactly
      // at 200 docs). SPARK_GRAFT_STREAM_DOCS overrides N (500k for the
      // BASELINE curve).
      {
        // index entry count is read back once, on the WARM pass, so the
        // timed pass measures only the stream run — a statestore scan
        // inside the timed window would bias the recorded ingest rate
        var dupEntries = -1L
        t(s"stream_dedup_dup_ingest_${dupDocs / 1000}k") {
          import spark.implicits._
          val fams = dupDocs / 10
          val dir = s"$out/stream_docs_dup_$dupDocs"
          if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS")))
            spark.range(dupDocs).select(
              col("id").as("doc_id"),
              expr("timestamp_micros(1700000000000000 + id * 1000000)").as("ts"),
              concat_ws(" ",
                (0 until 7).map(i =>
                  concat(lit(s"d${i}_"), pmod(col("id"), lit(fams)))): _*).as("text"))
              .coalesce(8).write.mode("overwrite").parquet(dir)
          val ckpt = java.nio.file.Files
            .createTempDirectory("stream-dedup-dup-ckpt").toString
          val src = spark.readStream
            .schema("doc_id LONG, ts TIMESTAMP, text STRING")
            .option("maxFilesPerTrigger", 2)
            .parquet(dir)
            .as[graft.streaming.StreamDoc]
          val q = graft.streaming.DedupStream.matches(src, 0.5)
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .outputMode("append").start()
          q.processAllAvailable()
          q.stop()
          if (dupEntries < 0)
            dupEntries = spark.read.format("statestore").load(ckpt)
              .selectExpr("sum(size(value.groupState.indexed))")
              .collect()(0).getLong(0)
          rmTree(ckpt)
          dupEntries
        }
      },
      // STATE LIFECYCLE under user churn (round-7 verdict gap): 200k
      // users arrive in 20 cohorts of 10k, each cohort 1200 s of event
      // time after the last; every user emits once and goes idle. With
      // the 600 s event-time TTL, a cohort's state is dropped as soon as
      // the watermark passes its window — the returned n is the RETAINED
      // state row count at stream end (read from the state operator's
      // own progress metrics), certifying state ∝ ACTIVE users. The
      // NoTimeout twin below returns ~200k on the identical corpus: the
      // all-time-users growth the TTL exists to cap.
      t("stream_digest_ttl_state_200k_users") {
        streamDigestStateRows(spark, s"$out/digest_churn_seq", ttl = true)
      },
      t("stream_digest_nottl_state_200k_users") {
        streamDigestStateRows(spark, s"$out/digest_churn_seq", ttl = false)
      },
      // TTL lifecycle THROUGHPUT (round-9): the same churn shape at 1M
      // events (200k users × 5), timed — the returned n is the input
      // row count, so sec prices the eviction machinery (timeout
      // bookkeeping + final-flush emissions) against the NoTimeout
      // twin on the identical corpus; rows/s = n / sec
      t("stream_digest_ttl_1m_events") {
        streamDigestStateRows(spark, s"$out/digest_churn_1m", ttl = true,
          evPerUser = 5)
        1000000L
      },
      t("stream_digest_nottl_1m_events") {
        streamDigestStateRows(spark, s"$out/digest_churn_1m", ttl = false,
          evPerUser = 5)
        1000000L
      },
      // streaming PSI drift monitor (round-9): 1M events through hourly
      // windows against a frozen reference distribution — state is one
      // 10-long map per OPEN window (a handful at any watermark), so
      // throughput should track the digest rows, not the window count.
      t("stream_drift_psi_1m_events") {
        val dir = s"$out/drift_1m"
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS")))
          events.select(col("event_id"), expr("timestamp_micros(ts DIV 1000)").as("ts"),
              col("user_id"), col("event_type"), col("value"))
            .write.mode("overwrite").parquet(dir)
        val ckpt = java.nio.file.Files.createTempDirectory("drift-sb-ckpt").toString
        import spark.implicits._
        val src = spark.readStream
          .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
          .option("maxFilesPerTrigger", 8).parquet(dir)
        val ref = (0L until 10L).map(b => b -> 1000L).toMap
        val q = streaming.DriftStream.psiWindows(
            src.as[streaming.StreamEvent], ref, windowSeconds = 3600L)
          .writeStream.format("noop")
          .option("checkpointLocation", ckpt).outputMode("append").start()
        q.processAllAvailable()
        q.stop()
        rmTree(ckpt)
        1000000L
      },
      // CDC upsert lifecycle (round-9): 1M change rows over 100k keys
      // (10 versions/key, every 5th key's last change a tombstone)
      // applied as 10 micro-batches of the version-conditional MERGE —
      // each batch collapses per key, merges against the current table,
      // and rewrites it. Returned n = final table rows (the 100k key
      // space, tombstones retained); sec prices the whole maintain-a-
      // table loop: ~2 × table rows + batch rows of IO per batch plus
      // the merge join. Idempotent, so the warm pass re-merging the
      // same changes leaves the count unchanged — itself a replay check.
      t("stream_cdc_upsert_1m_changes") {
        val keySpace = 100000L
        val n = 1000000L
        val batches = 10
        val path = s"$out/cdc_target"
        (0 until batches).foreach { b =>
          val chg = spark.range(b * n / batches, (b + 1) * n / batches)
            .select(
              pmod(col("id"), lit(keySpace)).as("k"),
              concat(lit("p"), col("id")).as("payload"),
              col("id").as("version"),
              (pmod(col("id"), lit(5)) === 0).as("deleted"))
          graft.streaming.MergeStream.applyBatch(
            spark, path, chg, Seq("k"), "version")
        }
        spark.read.parquet(path).count()
      },
      // TTL'd LSH-index lifecycle under churn (round-9): the dup-ingest
      // corpus re-cut into sequenced cohorts; with the 600 s TTL the
      // retained index holds only texts ACTIVE inside the trailing
      // window (family recurrence gap is fams s >> ttl, so entries die
      // between copies) — the returned n is the retained entry count
      // read back on the warm pass, vs the distinct-texts bound of the
      // NoTimeout dup row above
      {
        var ttlEntries = -1L
        t("stream_dedup_ttl_state_50k") {
          import spark.implicits._
          val n = 50000L
          val fams = n / 10
          val dir = s"$out/stream_docs_dup_ttl_$n"
          writeSequencedCohorts(spark, dir, 20) { i =>
            spark.range(i * n / 20, (i + 1) * n / 20).select(
              col("id").as("doc_id"),
              expr("timestamp_micros(1700000000000000 + id * 1000000)").as("ts"),
              concat_ws(" ",
                (0 until 7).map(j =>
                  concat(lit(s"d${j}_"), pmod(col("id"), lit(fams)))): _*).as("text"))
          }
          val ckpt = java.nio.file.Files
            .createTempDirectory("stream-dedup-ttl-ckpt").toString
          val src = spark.readStream
            .schema("doc_id LONG, ts TIMESTAMP, text STRING")
            .option("maxFilesPerTrigger", 4)
            .parquet(s"$dir/c*")
            .as[graft.streaming.StreamDoc]
          val q = graft.streaming.DedupStream
            .matchesWithTtl(src, 0.5, "600 seconds")
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .outputMode("append").start()
          q.processAllAvailable()
          q.stop()
          if (ttlEntries < 0)
            ttlEntries = spark.read.format("statestore").load(ckpt)
              .selectExpr("coalesce(sum(size(value.groupState.indexed)), 0L)")
              .collect()(0).getLong(0)
          rmTree(ckpt)
          ttlEntries
        }
      })

    // SPARK_GRAFT_ONLY=star_q5_6m,band_join_1m runs a subset (dev
    // sweeps, e.g. the shuffle-width series on the star shape) — same
    // knob name as Bench/Verify
    val results = ops.filter { case (k, _) => EnvOnly.keep(k) }
      .map { case (k, run) => val (s, n, c) = run(); (k, s, n, c) }
    val qs = results.map { case (k, s, n, c) =>
      s""""$k":{"sec":$s,"rows":$n,"peak_task_mem":${c.peakExecMemBytes},""" +
        s""""spilled":${c.spillBytes},"shuffle_written":${c.shuffleWriteBytes}}""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    println(s"""{"metric":"scale_total","value":$total,"unit":"sec","copies":$copies,"shuffle":$shuffle,"ops":$qs}""")
    spark.stop()
  }
}
