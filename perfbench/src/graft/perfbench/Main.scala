package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.marine.{Marine, Nmea, Races}

/** Measures one workload in one local-mode JVM and writes a JSON artifact
  * of raw timings, fingerprints and counters. `perfbench/run.py` turns the
  * artifact into metrics and checks it.
  *
  * Usage: Main --workload marine_log|query_keys --input PATH --work DIR
  *             --seconds N --trace 0|1 --out FILE
  *             [--keys FILE]
  *
  * The timed loop is closed with one client: the next operation starts
  * when the previous one has returned. An operation is one pipeline pass
  * on the marine workloads and one query key on `query_keys`. With
  * `--trace 1` a traced pass follows the timed loop: a listener records
  * counters per job group and each layer is timed from outside.
  */
object Main {
  val Channels = Seq("lat", "lon", "sog", "hdg", "tws", "twa", "vmg")
  val Stages = Seq("parse", "align", "races", "stats", "export")
  val Phases = Seq("analyze_s", "optimize_s", "plan_s", "execute_s")
  val PassSeconds = 5.0

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val out = new Json
    val t0 = System.nanoTime()
    val spark = session(args("work"))
    out.num("session_s", secs(t0))
    val w: Workload = workload match {
      case "marine_log" => new MarineWorkload(spark, args("input"), args("work"))
      case "query_keys" => new QueryWorkload(spark, args("input"),
        Files.readAllLines(Paths.get(args("keys"))).toArray(Array.empty[String]).toSeq.filter(_.nonEmpty))
      case other => sys.error(s"unknown workload $other")
    }
    try {
      val tw = System.nanoTime()
      w.warmup()
      out.num("warmup_s", secs(tw))
      out.num("setup_s", secs(t0))

      // One timed pass per PassSeconds of --seconds, whatever the measured
      // speed: every run of every commit times the same work, even while
      // the JIT still speeds passes up.
      val n = math.max(1, math.round(args("seconds").toDouble / PassSeconds).toInt)
      val tl = System.nanoTime()
      val passes = Seq.fill(n)(w.pass())
      out.num("timed_s", secs(tl))
      out.nums("pass_s", passes)
      out.nums("op_s", w.ops.toSeq)
      w.verify(out)
      if (args("trace") == "1") {
        val rec = new Recorder(spark.sparkContext)
        spark.sparkContext.addSparkListener(rec)
        val tt = System.nanoTime()
        try w.traced(rec, out)
        catch { case e: Throwable => w.failures += ("traced pass" -> message(e)) }
        out.num("traced_pass_s", secs(tt))
        spark.sparkContext.removeSparkListener(rec)
        out.obj("spark", rec.total().fields.map { case (k, v) => k -> v.toDouble })
      }
      out.str("failures", w.failures.map { case (k, e) => s"$k: $e" }.mkString("\n"))
      out.num("failed_ops", w.failures.size)
      out.num("attempted_ops", w.attempted)
    } finally spark.stop()
    out.num("peak_rss_mb", vmHwmMb())
    Files.writeString(Paths.get(args("out")), out.render())
  }

  def session(work: String): SparkSession = {
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secs(since: Long): Double = (System.nanoTime() - since) / 1e9

  def timed[T](body: => T): (T, Double) = { val t = System.nanoTime(); val r = body; (r, secs(t)) }

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def message(e: Throwable): String =
    (e.getClass.getName + ": " + Option(e.getMessage).getOrElse("")).linesIterator.take(3).mkString(" | ")
}

trait Workload {
  val ops = mutable.ArrayBuffer[Double]()
  val failures = mutable.ArrayBuffer[(String, String)]()
  var attempted = 0L
  /** Runs before the timed passes so code generation and the JIT warm up. */
  def warmup(): Unit
  /** One timed pass over the workload's whole input; returns its wall seconds. */
  def pass(): Double
  /** Output checks that need Spark, outside the timed loop. */
  def verify(out: Json): Unit
  def traced(rec: Recorder, out: Json): Unit
}

/** One NMEA log to replay JSON and per-race stats JSON, both written from
  * the one race table. */
final class MarineWorkload(spark: SparkSession, input: String, work: String)
    extends Workload {
  import Main._

  private def races(path: String): DataFrame =
    Races.split(Marine.wideTable(Marine.readLog(spark, path)).filter(col("lat").isNotNull))
  private def replay(r: DataFrame): DataFrame = Races.replayDocs(r, Channels)

  private def run(path: String, dir: String): Double = {
    attempted += 1
    timed {
      try {
        val r = races(path)
        replay(r).write.mode("overwrite").json(s"$dir/replay")
        Races.stats(r).write.mode("overwrite").json(s"$dir/stats")
      } catch { case e: Throwable => failures += ("pass" -> message(e)) }
    }._2
  }

  def warmup(): Unit = run(input, s"$work/warmup")

  def pass(): Double = { val s = run(input, s"$work/out"); ops += s; s }

  /** Valid and rejected line counts from the parse layer's audit view. */
  def verify(out: Json): Unit = {
    val counts = Nmea.parseAll(spark.read.text(input)).groupBy("valid").count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    out.num("parse_valid", counts.getOrElse(true, 0L).toDouble)
    out.num("parse_rejected", counts.getOrElse(false, 0L).toDouble)
  }

  /** Each stage is materialized as a prefix of the pipeline into a noop
    * sink; a stage's self time and counters are its prefix's minus those
    * of its parent prefix. A prefix whose plan lets the optimizer drop
    * work of its parent (a sort, say) can read below its parent, so a
    * self value can be negative. */
  def traced(rec: Recorder, out: Json): Unit = {
    val sc = spark.sparkContext
    val parent = Map("align" -> "parse", "races" -> "align", "stats" -> "races", "export" -> "races")
    val prefixes = mutable.Map[String, (Long, Double)]()
    def prefix(stage: String, df: DataFrame, sink: DataFrame => Unit): Unit = {
      val obs = Observation(stage)
      val observed = df.observe(obs, count(lit(1)).as("rows"))
      val (_, s) = timed(Recorder.inGroup(sc, s"marine.$stage")(sink(observed)))
      prefixes(stage) = (obs.get("rows").asInstanceOf[Long], s)
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val p = Marine.readLog(spark, input)
    val w = Marine.wideTable(p)
    val r = Races.split(w.filter(col("lat").isNotNull))
    prefix("parse", p, noop)
    prefix("align", w, noop)
    prefix("races", r, noop)
    prefix("stats", Races.stats(r), noop)
    val doc = replay(r)
    val qe = doc.queryExecution
    val (_, an) = timed(qe.analyzed)
    val (_, op) = timed(qe.optimizedPlan)
    val (_, pl) = timed(qe.executedPlan)
    prefix("export", doc, _.write.mode("overwrite").json(s"$work/traced"))
    out.obj("phases", Phases.zip(Seq(an, op, pl, prefixes("export")._2)))
    out.objs("stages", Stages.map { st =>
      val (rows, s) = prefixes(st)
      val c = rec.group(s"marine.$st")
      val (pc, ps) = parent.get(st)
        .map(q => (rec.group(s"marine.$q"), prefixes(q)._2)).getOrElse((new Counters, 0.0))
      st -> Seq("s" -> (s - ps), "rows" -> rows.toDouble,
        "task_ms" -> (c.taskMs - pc.taskMs).toDouble,
        "max_task_ms" -> c.maxTaskMs.toDouble,
        "shuffle_bytes" -> (c.shuffleWriteBytes - pc.shuffleWriteBytes).toDouble)
    })
  }
}

/** Every listed `SparkEntry.queries` key, materialized in full (every
  * column collected to the driver) and fingerprinted. */
final class QueryWorkload(spark: SparkSession, tables: String, keys: Seq[String])
    extends Workload {
  import Main._
  private val queries = SparkEntry.queries
  val packOf: Map[String, String] = SparkEntry.packs.flatMap { p =>
    val pack = p.getClass.getSimpleName.stripSuffix("$").stripSuffix("Queries").toLowerCase
    p.queries.keys.map(_ -> pack)
  }.toMap
  val prints = mutable.LinkedHashMap[String, mutable.Set[String]]()

  private def run(key: String): (Option[String], Double) = {
    attempted += 1
    val t = System.nanoTime()
    try {
      val df = queries(key)(spark, tables)
      val rows = df.collect()
      val s = secs(t)
      (Some(Fingerprint.of(rows.iterator)), s)
    } catch { case e: Throwable =>
      failures += (key -> message(e))
      (None, secs(t))
    }
  }

  private def round(): Seq[Double] = keys.map { k =>
    val (fp, s) = run(k)
    fp.foreach(prints.getOrElseUpdate(k, mutable.Set[String]()) += _)
    s
  }

  def warmup(): Unit = round()

  def pass(): Double = { val s = round(); ops ++= s; s.sum }

  def verify(out: Json): Unit =
    out.obj("fingerprints", keys.map(k => k -> prints.get(k).map(_.toSeq.sorted.mkString(" ")).getOrElse("")),
      quote = true)

  /** One round with the listener on and each phase forced from outside. */
  def traced(rec: Recorder, out: Json): Unit = {
    val sc = spark.sparkContext
    val perKey = keys.map { key =>
      val t = System.nanoTime()
      val (df, construct) = timed(Recorder.inGroup(sc, s"construct:$key")(queries(key)(spark, tables)))
      val qe = df.queryExecution
      val (_, an) = timed(qe.analyzed)
      val (_, op) = timed(qe.optimizedPlan)
      val (_, pl) = timed(qe.executedPlan)
      val (_, ex) = timed(Recorder.inGroup(sc, s"key:$key")(df.collect()))
      val total = secs(t)
      val c = rec.group(s"key:$key")
      val cc = rec.group(s"construct:$key")
      key -> (Seq("s" -> total, "construct_s" -> construct, "construct_jobs" -> cc.jobs.toDouble) ++
        Phases.zip(Seq(an, op, pl, ex)) ++ c.add(cc).fields.map { case (n, v) => n -> v.toDouble })
    }
    out.objs("keys", perKey)
    out.obj("pack_of", keys.map(k => k -> packOf.getOrElse(k, "?")), quote = true)
  }
}

/** Minimal JSON object writer for the artifact. */
final class Json {
  private val fields = mutable.ArrayBuffer[String]()
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def n(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def num(k: String, v: Double): Unit = fields += s"${q(k)}:${n(v)}"
  def str(k: String, v: String): Unit = fields += s"${q(k)}:${q(v)}"
  def nums(k: String, vs: Seq[Double]): Unit = fields += s"${q(k)}:${vs.map(n).mkString("[", ",", "]")}"
  def obj(k: String, kvs: Seq[(String, Any)], quote: Boolean = false): Unit =
    fields += s"${q(k)}:" + kvs.map { case (a, b) =>
      q(a) + ":" + (if (quote) q(b.toString) else n(b.asInstanceOf[Double]))
    }.mkString("{", ",", "}")
  def objs(k: String, m: Seq[(String, Seq[(String, Double)])]): Unit =
    fields += s"${q(k)}:" + m.map { case (a, kvs) =>
      q(a) + ":" + kvs.map { case (x, y) => q(x) + ":" + n(y) }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
  def render(): String = fields.mkString("{", ",", "}\n")
}
