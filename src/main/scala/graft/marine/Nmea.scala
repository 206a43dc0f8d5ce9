package graft.marine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** NMEA-0183 ingest: line-oriented text → validated sentence rows
  * (talker, type, field array; SURVEY.md §2.10). `Marine.wideTable`
  * decodes the fields by position. Grammar per the public NMEA-0183
  * standard: `$TTSSS,f1,f2,…*hh` where hh is the XOR of all bytes
  * between `$` and `*` in hex.
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

  /** hhmmss.ss → seconds since midnight UTC. */
  def utcSeconds(utc: Column): Column =
    substring(utc, 1, 2).cast("double") * 3600 +
      substring(utc, 3, 2).cast("double") * 60 +
      substring(utc, 5, 10).cast("double")
}
