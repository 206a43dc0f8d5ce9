package graft.marine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end marine pipeline (SURVEY.md §2.10): raw NMEA log → validated
  * sentences → clocked long-form channels → aligned wide table → derived
  * wind/VMG → races/maneuvers/stats → replay JSON.
  *
  * Clock assignment: only RMC sentences carry UTC; every other sentence
  * inherits the latest preceding RMC time in log order — the same as-of
  * carry-forward plan used by join_asof, keyed on the file line number.
  */
object Marine {

  /** Read + parse, preserving log order via monotonically_increasing_id
    * (monotone within and across splits of a file scan — the standard
    * distributed line-order handle; no collect, no single-partition
    * coalesce).
    */
  def readLog(spark: SparkSession, path: String): DataFrame =
    Nmea.parse(
      spark.read.text(path).withColumn("line_no", monotonically_increasing_id()))

  /** Epoch-seconds clock from an RMC row's date (ddmmyy, field 9) +
    * time (hhmmss.ss, field 1) — a full instant, so multi-day logs keep
    * real gaps (seconds-since-midnight alone would wrap at each day and
    * hide them from race splitting).
    */
  private def rmcEpochSeconds: org.apache.spark.sql.Column = {
    val date = element_at(col("fields"), 9)
    unix_timestamp(to_date(concat(lit("20"), substring(date, 5, 2), lit("-"),
      substring(date, 3, 2), lit("-"), substring(date, 1, 2)))).cast("double") +
      Nmea.utcSeconds(element_at(col("fields"), 1))
  }

  /** Read a DIRECTORY of per-boat logs: one file per boat, boat id from
    * the file name. Every window downstream partitions by boat_id, so
    * the fleet aligns in parallel — the multi-boat scale path.
    */
  def readFleet(spark: SparkSession, dir: String): DataFrame = {
    // fall back to the whole file name when the *.nmea pattern misses —
    // an empty extract would silently merge unmatched files into one key
    val stem = regexp_extract(input_file_name(), "([^/]+)\\.nmea$", 1)
    Nmea.parse(
      spark.read.text(dir)
        .withColumn("boat_id",
          when(stem === "", regexp_extract(input_file_name(), "([^/]+)$", 1))
            .otherwise(stem))
        .withColumn("line_no", monotonically_increasing_id()))
  }

  /** Full wide table: clocked long-form channels → aligned + derived
    * true wind and VMG, one row per clock tick. Single-log form: one log
    * is one totally-ordered sequence, so its windows are UNPARTITIONED
    * and serialise the log through one task by construction — correct
    * for one boat-day, NOT the fleet-scale path. At scale use
    * [[wideTableByKey]], whose Exchange hashes on the boat key so each
    * boat's log aligns independently in parallel.
    */
  def wideTable(parsed: DataFrame): DataFrame =
    wideTableImpl(parsed, keys = Nil)

  /** Keyed form: all windows/aggregations partition by `keys` (e.g.
    * boat_id), so each boat's log processes independently in parallel.
    */
  def wideTableByKey(parsed: DataFrame, keys: Seq[String]): DataFrame =
    wideTableImpl(parsed, keys)

  private def wideTableImpl(parsed: DataFrame, keys: Seq[String]): DataFrame = {
    val keyCols = keys.map(col)
    val byLine = Window.partitionBy(keyCols: _*).orderBy("line_no")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val clocked = parsed
      .withColumn("ts",
        last(when(col("stype") === "RMC", rmcEpochSeconds),
          ignoreNulls = true).over(byLine))
      .filter(col("ts").isNotNull)

    // Sparse wide extraction: each sentence row contributes only its own
    // channels (null elsewhere). One scan, no stack/union blow-up — the
    // serial alignment window below then runs over TICKS (one row per
    // RMC instant), not over (rows × channels), which is the ~10× lever
    // on single-log throughput.
    def f(i: Int) = element_at(col("fields"), i)
    val isRmc = col("stype") === "RMC"
    val isVhw = col("stype") === "VHW"
    val isMwvR = col("stype") === "MWV" && f(2) === "R"
    val isDpt = col("stype") === "DPT"
    val sparse = clocked.select(
      keyCols ++ Seq(col("ts"), col("line_no"),
      when(isRmc, Nmea.coord(f(3), f(4))).as("lat"),
      when(isRmc, Nmea.coord(f(5), f(6))).as("lon"),
      when(isRmc, f(7).cast("double")).as("sog"),
      when(isRmc, f(8).cast("double")).as("cog"),
      when(isVhw, f(1).cast("double")).as("hdg"),
      when(isVhw, f(5).cast("double")).as("stw"),
      when(isMwvR, f(1).cast("double")).as("awa"),
      when(isMwvR, f(3).cast("double")).as("aws"),
      when(isDpt, f(1).cast("double")).as("depth")): _*)

    val names = Seq("lat", "lon", "sog", "cog", "hdg", "stw", "awa", "aws", "depth")
    // per tick: last non-null value in log order per channel
    val perTick = sparse.groupBy(keyCols :+ col("ts"): _*).agg(
      names.map(n =>
        expr(s"max_by($n, IF($n IS NOT NULL, line_no, NULL))").as(n)).head,
      names.map(n =>
        expr(s"max_by($n, IF($n IS NOT NULL, line_no, NULL))").as(n)).tail: _*)
    // carry the latest value of every channel forward across ticks
    val byTs = Window.partitionBy(keyCols: _*).orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val oneRow = names.foldLeft(perTick) { (df, n) =>
      df.withColumn(n, last(col(n), ignoreNulls = true).over(byTs))
    }

    // signed AWA convention: sentences give 0-360; fold to [-180, 180]
    val signedAwa = when(col("awa") > 180, col("awa") - 360).otherwise(col("awa"))
    oneRow
      .withColumn("awa_signed", signedAwa)
      .withColumn("tws", round(Derived.tws(col("aws"), col("awa_signed"), col("stw")), 6))
      .withColumn("twa", round(Derived.twa(col("aws"), col("awa_signed"), col("stw")), 6))
      .withColumn("twd", round(Derived.twd(col("hdg"), col("twa")), 6))
      .withColumn("vmg", round(Derived.vmg(col("sog"), col("twa")), 6))
      .orderBy(keyCols :+ col("ts"): _*)
  }

  /** Full pipeline: log path → per-race replay docs, ready for
    * write.json.
    */
  def replayFromLog(spark: SparkSession, path: String,
                    raceGapSeconds: Double = 1800): DataFrame = {
    val wide = wideTable(readLog(spark, path))
    val races = Races.split(wide.filter(col("lat").isNotNull), raceGapSeconds)
    Races.replayDocs(races, Seq("lat", "lon", "sog", "hdg", "tws", "twa", "vmg"))
  }
}
