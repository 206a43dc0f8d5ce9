package graft.marine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** NMEA-0183 ingest: line-oriented text → validated, typed sentence rows
  * (SURVEY.md §2.10). Grammar per the public NMEA-0183 standard:
  * `$TTSSS,f1,f2,…*hh` where hh is the XOR of all bytes between `$` and
  * `*` in hex.
  *
  * Known gaps, both in `parseAll`'s checksum (ROADMAP D5 step 2 holds
  * the fix, a codegen'd byte-XOR expression):
  *  - the fold XORs code points, not UTF-8 bytes, so a sentence with a
  *    non-ASCII body is judged against the wrong checksum
  *    (`$GPTXT,01,01,02,Café*63`, the byte XOR, is rejected; `*E0` is
  *    accepted);
  *  - the fold is `ArrayAggregate`, a `CodegenFallback`, so it runs
  *    interpreted over a per-line array of one-character strings, and
  *    the rest of the parse is codegen'd around it.
  *
  * The parse is column expressions over `spark.read.text`, one pass and
  * no UDFs; at 100 TB of logs it is a pure map stage that scales
  * linearly with input splits.
  */
object Nmea {

  /** Raw log lines → parsed rows with checksum validation. Keeps only
    * structurally valid, checksum-passing sentences; malformed lines are
    * dropped (counted upstream if needed via the `valid` flag before the
    * filter — use `parseAll` to inspect rejects).
    */
  def parse(lines: DataFrame): DataFrame =
    parseAll(lines).filter(col("valid")).drop("valid")

  /** Like `parse` but keeps invalid rows with valid=false for auditing. */
  def parseAll(lines: DataFrame): DataFrame = {
    val line = trim(col("value"))
    // accept standard 5-char addresses AND proprietary/other lengths
    // ($PMTK001-style) — validity is the checksum, not the address width
    val wellFormed = line.rlike("^\\$[A-Z0-9]{3,10},[^*]*\\*[0-9A-Fa-f]{2}$")
    val body = regexp_extract(line, "^\\$([^*]*)\\*", 1)
    val declared = upper(regexp_extract(line, "\\*([0-9A-Fa-f]{2})$", 1))
    // XOR-fold the body's characters: ascii() is a code point, so this is
    // the byte XOR on ASCII bodies only. ArrayAggregate is
    // CodegenFallback, so the fold runs interpreted.
    val computed = upper(lpad(conv(
      aggregate(split(body, ""), lit(0), (acc, c) => acc.bitwiseXOR(ascii(c)))
        .cast("string"), 10, 16), 2, "0"))
    val extra = lines.columns.filterNot(_ == "value").map(col).toSeq
    lines
      .select(extra :+ line.as("raw") :+
        wellFormed.and(declared === computed).as("valid") :+
        substring(line, 2, 2).as("talker") :+
        substring(line, 4, 3).as("stype") :+
        split(regexp_extract(line, "^\\$[A-Z0-9]{3,10},([^*]*)\\*", 1), ",").as("fields"): _*)
  }

  /** `ddmm.mmmm` + hemisphere → signed decimal degrees.
    * 4739.1234,N → 47 + 39.1234/60 = 47.65206°; S/W negate.
    */
  def coord(value: Column, hemi: Column): Column = {
    val v = value.cast("double")
    val deg = floor(v / 100) + (v - floor(v / 100) * 100) / 60.0
    when(hemi.isin("S", "W"), -deg).otherwise(deg)
  }

  private def f(i: Int): Column = element_at(col("fields"), i)

  /** RMC — recommended minimum: UTC time, status, position, SOG, COG,
    * date. utc is emitted as seconds-since-midnight (double) plus a full
    * timestamp assembled from the ddmmyy date field.
    */
  def rmc(parsed: DataFrame): DataFrame =
    parsed.filter(col("stype") === "RMC")
      .select(
        col("raw"),
        utcSeconds(f(1)).as("utc_s"),
        to_timestamp(
          concat(lit("20"), substring(f(9), 5, 2), lit("-"),
            substring(f(9), 3, 2), lit("-"), substring(f(9), 1, 2),
            lit(" "), substring(f(1), 1, 2), lit(":"), substring(f(1), 3, 2),
            lit(":"), substring(f(1), 5, 2))).as("ts"),
        (f(2) === "A").as("active"),
        coord(f(3), f(4)).as("lat"),
        coord(f(5), f(6)).as("lon"),
        f(7).cast("double").as("sog_kn"),
        f(8).cast("double").as("cog_deg"))

  /** GGA — fix data: position, fix quality, satellite count, HDOP,
    * altitude.
    */
  def gga(parsed: DataFrame): DataFrame =
    parsed.filter(col("stype") === "GGA")
      .select(
        col("raw"),
        utcSeconds(f(1)).as("utc_s"),
        coord(f(2), f(3)).as("lat"),
        coord(f(4), f(5)).as("lon"),
        f(6).cast("int").as("fix_quality"),
        f(7).cast("int").as("n_sats"),
        f(8).cast("double").as("hdop"),
        f(9).cast("double").as("alt_m"))

  /** VHW — water speed and heading. */
  def vhw(parsed: DataFrame): DataFrame =
    parsed.filter(col("stype") === "VHW")
      .select(
        col("raw"),
        f(1).cast("double").as("hdg_true"),
        f(3).cast("double").as("hdg_mag"),
        f(5).cast("double").as("stw_kn"),
        f(7).cast("double").as("stw_kmh"))

  /** MWV — wind speed and angle (R = apparent/relative, T = true). */
  def mwv(parsed: DataFrame): DataFrame =
    parsed.filter(col("stype") === "MWV")
      .select(
        col("raw"),
        f(1).cast("double").as("wind_angle"),
        f(2).as("reference"),
        f(3).cast("double").as("wind_speed"),
        f(4).as("unit"),
        (f(5) === "A").as("valid_flag"))

  /** VWR — relative wind (older alternative to MWV): angle 0-180 +
    * L/R side, speed in knots/m-s/km-h. Normalised to the MWV shape:
    * signed wind_angle (starboard positive).
    */
  def vwr(parsed: DataFrame): DataFrame =
    parsed.filter(col("stype") === "VWR")
      .select(
        col("raw"),
        when(f(2) === "L", -f(1).cast("double"))
          .otherwise(f(1).cast("double")).as("wind_angle"),
        f(3).cast("double").as("wind_speed_kn"),
        f(5).cast("double").as("wind_speed_ms"),
        f(7).cast("double").as("wind_speed_kmh"))

  /** DPT — depth below transducer + offset. */
  def dpt(parsed: DataFrame): DataFrame =
    parsed.filter(col("stype") === "DPT")
      .select(
        col("raw"),
        f(1).cast("double").as("depth_m"),
        f(2).cast("double").as("offset_m"))

  /** HDG — magnetic heading, deviation, variation (E positive). */
  def hdg(parsed: DataFrame): DataFrame =
    parsed.filter(col("stype") === "HDG")
      .select(
        col("raw"),
        f(1).cast("double").as("hdg_mag"),
        when(f(5) === "W", -f(4).cast("double")).otherwise(f(4).cast("double")).as("variation"))

  /** hhmmss.ss → seconds since midnight UTC. */
  def utcSeconds(utc: Column): Column =
    substring(utc, 1, 2).cast("double") * 3600 +
      substring(utc, 3, 2).cast("double") * 60 +
      substring(utc, 5, 10).cast("double")

  /** Convenience: read a log file and parse in one call. */
  def readLog(spark: SparkSession, path: String): DataFrame =
    parse(spark.read.text(path))
}
