package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Interchange sources/sinks (SURVEY.md §2.1 oracle-N rows): CSV and
  * JSON in/out. Thin, explicit wrappers — schema always declared on read
  * (schema inference is a full extra scan at 100 TB).
  */
object Sources {

  /** The PINNED interchange dialect, shared by reader and writer so a
    * graft-written CSV round-trips bit-exactly — and parses identically
    * in other RFC 4180 readers (the `scan_csv_roundtrip` oracle key
    * certifies this against DuckDB's `read_csv` on the same file):
    *  - escape `"` → embedded quotes DOUBLED (RFC 4180; Spark's default
    *    `\` escape is a private dialect most readers misparse),
    *  - nulls as `\N` (distinguishable from the empty string, which the
    *    default empty-string nullValue silently conflates),
    *  - timestamps at full µs precision (the default pattern drops
    *    sub-millisecond digits — a SILENT precision loss on write).
    */
  private val csvDialect: Map[String, String] = Map(
    "escape" -> "\"",
    "nullValue" -> "\\N",
    "timestampFormat" -> "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Schema-explicit CSV read — never infer (inference = one full scan
    * before the real one).
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .options(csvDialect)
      .schema(schema)
      .csv(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", header.toString)
      .options(csvDialect)
      .csv(path)

  /** Line-delimited JSON export — the reference's output format.
    * Timestamps pinned to full µs like the CSV dialect: the default
    * JSON pattern keeps only milliseconds, a SILENT precision loss the
    * roundtrip spec caught (written `.000001` read back `.0`).
    */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .json(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .json(path)
}
