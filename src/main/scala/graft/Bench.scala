package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at the target SF and
  * prints one JSON line. Reports steady-state times — a warmup pass
  * first runs each query once so JIT/codegen compilation and parquet
  * footer caching are excluded from the measurement (classic JVM
  * benchmark hygiene; the 100 TB question is throughput, not first-call
  * compile latency).
  */
object Bench {
  /** Renders the two stdout lines: (per-query map line, compact total line).
    * Failed queries (negative sentinel) are listed by name and EXCLUDED from
    * the total — a -1 folded into the sum would make a broken round look
    * faster. The total line stays short and bounded (up to 30 failure names
    * plus a "failed_n" count — a 98-failure round must not grow the line
    * past the driver's fixed-size stdout tail; past 30 the list ends with
    * "..." so a reader can SEE it is truncated rather than reconcile it
    * against failed_n) and is printed LAST. Per-query values are rounded
    * to ms on the stdout line (the driver's ~2000-char tail window cuts
    * the HEAD of the per-query line; ms precision ≈ halves each entry so
    * ~2× the keys stay visible — the full-precision map goes to the
    * [[perKeyJson]] file artifact instead).
    */
  def render(results: Seq[(String, Double)], sfDir: String): (String, String) = {
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" +
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => k }
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val failedJson = (failed.take(30) ++ (if (failed.size > 30) Seq("...") else Nil))
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // Locale.ROOT: under a comma-decimal default locale f"%.3f" would emit
    // "30,868" — invalid JSON — and silently break the driver's tail parse.
    val totalStr = String.format(java.util.Locale.ROOT, "%.3f", Double.box(total))
    (s"""{"metric":"queries","queries":$qs,"sf":"$sfDir"}""",
     s"""{"metric":"total","value":$totalStr,"unit":"sec","failed":$failedJson,"failed_n":${failed.size},"sf":"$sfDir"}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Shuffle width is sized for the benchmark data, not the core count:
    // sf0.1 is ~17 MB, so wide shuffles are pure task-scheduling overhead
    // (the same reasoning AQE applies on a cluster via advisory partition
    // sizes). Override with SPARK_GRAFT_SHUFFLE to re-measure wider.
    val shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      // readers are pure: the NANOS-as-long legacy flag is session config
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.adaptive.coalescePartitions.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.ui.enabled", "false")
    // dev sweep knob: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" layers arbitrary
    // session confs for one-off measurements (the driver never sets it,
    // so driver runs always measure the defaults above). Entries split
    // on ';' — and on ',' ONLY where the next segment looks like a conf
    // key (round-8 advice: a value legitimately containing commas, e.g.
    // spark.executor.extraJavaOptions, must not be mis-split into
    // malformed fragments); each applied pair is logged to stderr so a
    // sweep run can see what was actually set.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";"))
      .flatMap { seg =>
        // within a ';' segment, re-join ','-fragments that do NOT start
        // a new key=... entry back onto the previous entry's value
        // "starts a new entry" = a DOTTED key beginning with a letter
        // ("spark.sql.x=..."), so a value fragment like "-Db=2" inside
        // extraJavaOptions can never be mistaken for one
        seg.split(",").foldLeft(List.empty[String]) { (acc, frag) =>
          if (frag.matches("[A-Za-z][A-Za-z0-9_-]*(\\.[A-Za-z0-9_-]+)+=.*")
              || acc.isEmpty) frag :: acc
          else (acc.head + "," + frag) :: acc.tail
        }.reverse
      }
      .filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        System.err.println(s"[bench] extra conf: $k=$v")
        builder.config(k, v)
      }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // dev convenience: SPARK_GRAFT_ONLY=q1,q2 times just those queries
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => EnvOnly.keep(n) }
    // Two measurement semantics, both recorded in BASELINE.md:
    //  - default `count()`: comparable with rounds 1-2 and the driver's
    //    BASELINE anchor, but ColumnPruning deletes columns a count
    //    never reads, so window/projection expressions are partially
    //    optimized away (a count over a window query is a legal,
    //    cheaper query — that IS what count() asks for);
    //  - SPARK_GRAFT_FULL_EVAL=true: toRdd runs the query exactly as
    //    written, every output column materialized — the honest cost a
    //    consumer of the full result pays (sf0.1: ~51 s vs ~26-32 s).
    val fullEval = sys.env.get("SPARK_GRAFT_FULL_EVAL").contains("true")
    def exec(df: org.apache.spark.sql.DataFrame): Long =
      if (fullEval) df.queryExecution.toRdd.count() else df.count()
    // SPARK_GRAFT_PREPARED=true: construct + analyze each DataFrame
    // ONCE at prepare time, timing only the per-execution pipeline
    // (count-plan build, optimizer, physical planning, AQE, the job).
    // Measured round 8 (BASELINE.md): NO total win — 39.3 s
    // constructed-in-clock vs 39.7 s prepared at 149 keys — so Dataset
    // construction/analysis is NOT the per-key floor (optimizer +
    // scheduling + execution are), and prepared mode is NOT the default
    // because it silently hoists driver-side work some queries do at
    // construction (dedup_components' iterative localCheckpoint loop:
    // 1.53 s → 0.12 s, i.e. the checkpoint, not the query, gets timed).
    // The flag stays as a measurement instrument.
    val preparedMode = sys.env.get("SPARK_GRAFT_PREPARED").contains("true")
    val prepared: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
      ordered.map { case (name, fn) =>
        if (preparedMode) {
          // a query whose CONSTRUCTION throws falls back to per-call
          // construction so the timed pass reports it as -1, same as
          // unprepared mode (prepare must not crash the whole bench)
          try { val df = fn(spark, sfDir); name -> (() => df) }
          catch { case _: Throwable => name -> (() => fn(spark, sfDir)) }
        } else name -> (() => fn(spark, sfDir))
      }
    // warmup: compile + execute each query once (failures ignored here;
    // the timed passes report a failed query as -1)
    prepared.foreach { case (_, mk) =>
      try exec(mk()) catch { case _: Throwable => () }
    }
    // several timed passes, keep each query's minimum: single-JVM timings
    // jitter ±30% from GC/JIT recompilation, and the min is the honest
    // steady-state cost of the plan (classic benchmark hygiene). Default
    // 2 keeps total wall close to a single-pass run's envelope.
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toInt
    val loadBefore = loadavg()
    // a failed key keeps its first failure's `ExceptionClass: message`,
    // on stderr and in the per-key artifact
    val reasons = scala.collection.mutable.Map.empty[String, String]
    val passes = (1 to iters).map { _ =>
      prepared.map { case (name, mk) =>
        val t0 = System.nanoTime()
        val ok = try { exec(mk()); true } catch { case e: Throwable =>
          if (!reasons.contains(name)) {
            reasons(name) = e.toString
            System.err.println(s"[bench] $name failed: $e")
          }
          false
        }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
    }
    val loadAfter = loadavg()
    val results = ordered.map { case (name, _) =>
      val ts = passes.map(_.find(_._1 == name).get._2)
      name -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }
    val (queriesLine, totalLine) = render(results, sfDir)
    // full-precision per-key artifact ON DISK (round-8 advice: the
    // driver's BENCH_r*.json keeps only a fixed-size stdout tail, which
    // truncates the per-key map — keys early in the alphabet become
    // invisible to regression triage). The file lands in the repo cwd,
    // so the round's closing commit preserves every key's timing.
    // SELF-IDENTIFYING (round-9 advice: the working-tree artifact held
    // the worst window of the day with nothing marking it as such): the
    // map carries its own total, the host loadavg bracketing the timed
    // passes, and the median per-key ratio against the committed
    // quiet-floor map BENCH_PERKEY_QUIET.json — a reader (or the next
    // round's triage) sees at a glance whether this run sat in a
    // host-steal window (ratio ≫ 1) without consulting the narrative.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_PERKEY.json"),
      perKeyJson(results, sfDir, loadBefore, loadAfter, reasons.toMap) + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] per-key artifact write failed: ${e.getMessage}")
    }
    println(queriesLine)
    println(totalLine)
    spark.stop()
  }

  /** 1-minute /proc/loadavg, or -1 where unreadable (non-Linux). */
  private def loadavg(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Median per-key ratio of `results` against the quiet-floor map in
    * BENCH_PERKEY_QUIET.json (shared keys only), or -1 when the
    * reference is absent/unparseable. The reference format is our own
    * perKeyJson, so a targeted regex parse suffices — key names are
    * [a-z0-9_] by construction.
    */
  private def ratioVsQuietFloor(results: Seq[(String, Double)]): Double =
    try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BENCH_PERKEY_QUIET.json")))
      val ref = "\"([a-z0-9_]+)\":([0-9]+\\.[0-9]+)".r
        .findAllMatchIn(txt.substring(txt.indexOf("\"queries\"")))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      val ratios = results.collect {
        case (k, v) if v > 0 && ref.get(k).exists(_ > 0) => v / ref(k)
      }.sorted
      if (ratios.isEmpty) -1.0 else ratios(ratios.size / 2)
    } catch { case _: Throwable => -1.0 }

  /** The on-disk per-key artifact: full-precision seconds per key plus
    * the same total/failed summary as the stdout total line, each
    * failed key's reason, stamped with the run's own window identity
    * (see the write site).
    */
  def perKeyJson(results: Seq[(String, Double)], sfDir: String,
                 loadBefore: Double = -1.0, loadAfter: Double = -1.0,
                 reasons: Map[String, String] = Map.empty): String = {
    def quote(x: String): String = "\"" + new String(
      com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance.quoteAsString(x)) + "\""
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val why = results.collect { case (k, _) if reasons.contains(k) =>
      quote(k) + ":" + quote(reasons(k)) }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val totalStr = String.format(java.util.Locale.ROOT, "%.3f", Double.box(total))
    val ratio = ratioVsQuietFloor(results)
    val ratioStr = String.format(java.util.Locale.ROOT, "%.3f", Double.box(ratio))
    s"""{"metric":"queries_full","total":$totalStr,"n":${results.size},""" +
      s""""median_ratio_vs_quiet_floor":$ratioStr,""" +
      s""""loadavg_before":$loadBefore,"loadavg_after":$loadAfter,""" +
      s""""failed":${failed.mkString("[", ",", "]")},"reasons":$why,"sf":"$sfDir","queries":$qs}"""
  }
}
