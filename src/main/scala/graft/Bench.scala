package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark main: times every SparkEntry query at the target SF and
  * prints one JSON line. Reports steady-state times — a warmup pass
  * first runs each query once so JIT/codegen compilation and parquet
  * footer caching are excluded from the measurement (classic JVM
  * benchmark hygiene; the 100 TB question is throughput, not first-call
  * compile latency). The run that gives each key its minimum also
  * records where the time went — construction, planning phases, Spark
  * counters — into the per-key artifact.
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
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => k }
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val failedJson = (failed.take(30) ++ (if (failed.size > 30) Seq("...") else Nil))
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    (s"""{"metric":"queries","queries":$qs,"sf":"$sfDir"}""",
     s"""{"metric":"total","value":${f3(total)},"unit":"sec","failed":$failedJson,"failed_n":${failed.size},"sf":"$sfDir"}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Shuffle width is sized for the benchmark data, not the core count:
    // sf0.1 is ~17 MB, so wide shuffles are pure task-scheduling overhead
    // (the same reasoning AQE applies on a cluster via advisory partition
    // sizes). Override with SPARK_GRAFT_SHUFFLE to re-measure wider.
    val spark = GraftSession.fromEnv(4, Some(8)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // dev convenience: SPARK_GRAFT_ONLY=q1,q2 times just those queries
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => EnvOnly.keep(n) }
    // warmup: compile + execute each query once (failures ignored here;
    // the timed passes report a failed query as -1)
    ordered.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
    val recorder = GraftRecorder.attach(spark.sparkContext)
    // the planning phases of each key's `count` action; the listener
    // runs on the listener bus, so they are final after recorder.settle()
    val phases = new java.util.concurrent.atomic.AtomicReference(Map.empty[String, Long])
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "count") phases.set(qe.tracker.phases.map { case (p, s) => p -> s.durationMs })
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    // several timed passes, keep each query's minimum: single-JVM timings
    // jitter ±30% from GC/JIT recompilation, and the min is the honest
    // steady-state cost of the plan (classic benchmark hygiene). Default
    // 2 keeps total wall close to a single-pass run's envelope.
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toInt
    val loadBefore = loadavg()
    // a failed key keeps its first failure's `ExceptionClass: message`,
    // on stderr and in the per-key artifact
    val reasons = scala.collection.mutable.Map.empty[String, String]
    // counts `df.count()`, not the full result: ColumnPruning deletes
    // columns a count never reads — comparable with every earlier round
    // and BASELINE.md's anchor
    val passes = (1 to iters).map { _ =>
      ordered.map { case (name, fn) =>
        recorder.reset()
        phases.set(Map.empty)
        val t0 = System.nanoTime()
        name -> (try {
          val df = fn(spark, sfDir)
          val constructMs = (System.nanoTime() - t0) / 1e6
          df.count()
          val sec = (System.nanoTime() - t0) / 1e9
          val counters = recorder.settle() // before reading the phases it settles
          Some(KeyRun(sec, constructMs, phases.get, counters))
        } catch { case e: Throwable =>
          if (!reasons.contains(name)) {
            reasons(name) = e.toString
            System.err.println(s"[bench] $name failed: $e")
          }
          None
        })
      }.toMap
    }
    val loadAfter = loadavg()
    // the run with the key's minimum wall time, and the counters of that run
    val best = ordered.map { case (name, _) =>
      val runs = passes.map(_(name))
      name -> (if (runs.exists(_.isEmpty)) None else Some(runs.flatten.minBy(_.sec)))
    }
    val results = best.map { case (name, r) => name -> r.fold(-1.0)(_.sec) }
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
      perKeyJson(results, sfDir, loadBefore, loadAfter, reasons.toMap,
        best.collect { case (name, Some(r)) => name -> r }.toMap) + "\n")
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

  /** Median per-key ratio of `results` against the `queries` map of a
    * reference artifact (shared keys only), or -1 when the reference is
    * empty or unparseable. Only that one field is read, wherever it sits
    * and whatever other fields the artifact carries.
    */
  private[graft] def ratioVsQuietFloor(results: Seq[(String, Double)], reference: String): Double =
    try {
      val ref = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(reference).get("queries")
      val ratios = results.collect {
        case (k, v) if v > 0 && ref.path(k).asDouble > 0 => v / ref.get(k).asDouble
      }.sorted
      if (ratios.isEmpty) -1.0 else ratios(ratios.size / 2)
    } catch { case _: Throwable => -1.0 }

  /** Locale.ROOT: under a comma-decimal default locale f"%.3f" would emit
    * "30,868" — invalid JSON — and silently break every reader of the lines.
    */
  private def f3(x: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))

  /** The on-disk per-key artifact: full-precision seconds per key plus
    * the same total/failed summary as the stdout total line, each
    * failed key's reason, stamped with the run's own window identity
    * (see the write site), and under `layers` the numbers of each
    * key's minimum-wall run.
    */
  def perKeyJson(results: Seq[(String, Double)], sfDir: String,
                 loadBefore: Double = -1.0, loadAfter: Double = -1.0,
                 reasons: Map[String, String] = Map.empty,
                 layers: Map[String, KeyRun] = Map.empty): String = {
    def quote(x: String): String = "\"" + new String(
      com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance.quoteAsString(x)) + "\""
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val why = results.collect { case (k, _) if reasons.contains(k) =>
      quote(k) + ":" + quote(reasons(k)) }.mkString("{", ",", "}")
    val perKey = results.collect { case (k, _) if layers.contains(k) =>
      "\"" + k + "\":" + layers(k).json }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val reference = try java.nio.file.Files.readString(
      java.nio.file.Paths.get("BENCH_PERKEY_QUIET.json")) catch { case _: Throwable => "" }
    s"""{"metric":"queries_full","total":${f3(total)},"n":${results.size},""" +
      s""""median_ratio_vs_quiet_floor":${f3(ratioVsQuietFloor(results, reference))},""" +
      s""""loadavg_before":$loadBefore,"loadavg_after":$loadAfter,""" +
      s""""failed":${failed.mkString("[", ",", "]")},"reasons":$why,"sf":"$sfDir",""" +
      s""""queries":$qs,"layers":$perKey}"""
  }

  /** One timed run of one key: its wall seconds, the time to build its
    * DataFrame (the SparkEntry call), the planning phases of its `count`
    * action, and the Spark counters of the whole run.
    */
  final case class KeyRun(sec: Double, constructMs: Double,
                          phasesMs: Map[String, Long], counters: JobCounters) {
    def json: String = {
      val phases = Seq("analyze_ms" -> "analysis", "optimize_ms" -> "optimization",
        "plan_ms" -> "planning").map { case (n, p) => n -> phasesMs.getOrElse(p, -1L).toString }
      (Seq("construct_ms" -> f3(constructMs)) ++ phases ++
        counters.fields.map { case (n, v) => n -> v.toString })
        .map { case (n, v) => "\"" + n + "\":" + v }.mkString("{", ",", "}")
    }
  }
}
