package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Layout

/** Streaming CDC upsert: maintain a keyed parquet table from a stream of
  * change rows, each carrying a monotone per-key VERSION (CDC log offset,
  * event time, transaction id). The live table is kept a pure function of
  * the max-version change per key — independent of micro-batch splits,
  * arrival order, and batch replays — by composing three pieces:
  *
  *  1. per-batch collapse: only the max-version change per key within the
  *     batch reaches the merge (full-row struct comparison breaks version
  *     ties deterministically);
  *  2. version-conditional MERGE ([[Layout.merged]] with `matchedCond =
  *     c.version >= t.version`, SQL's WHEN MATCHED AND): a change older
  *     than the stored row leaves the target untouched, a replayed change
  *     overwrites with the identical row — so late cross-batch arrivals
  *     and foreachBatch's at-least-once replays are both no-ops;
  *  3. RETAINED TOMBSTONES: deletes are not dropped at merge time — the
  *     tombstone row (delete flag true) is STORED, keeping the key's
  *     version watermark on disk. Without it, a late update arriving
  *     after its key's delete would look unmatched and resurrect the row
  *     — the classic CDC resurrection bug. Readers go through [[current]]
  *     (filters tombstones); [[purgeTombstones]] reclaims space once a
  *     version horizon passes — the RocksDB/Cassandra tombstone-GC
  *     discipline on parquet.
  *
  * Persistence is write-new-then-repoint per batch: stage the merged
  * table, then swap it in through [[Layout.publishDirectory]]'s marker
  * protocol, so a kill between the swap's renames recovers mechanically
  * on the next call. Atomic visibility is out of scope: a reader listing
  * the table between the two renames sees it absent. Every batch
  * rewrites the whole table.
  *
  * Contract: `versionCol` must determine the row — two changes to one
  * key with equal versions and different payloads are a source bug (the
  * tie falls to the full-row struct order, deterministically but
  * meaninglessly). All target columns ride the change rows; the delete
  * flag is a real target column.
  */
object MergeStream {

  /** Deterministic intra-batch collapse: max version per key, full-row
    * struct comparison on ties (a replayed duplicate ties with itself).
    */
  private def collapse(batch: DataFrame, keys: Seq[String],
                       versionCol: String): DataFrame = {
    val cols = batch.columns.toSeq
    val rn = Iterator.iterate("__rn")(_ + "_").dropWhile(cols.contains).next()
    batch
      .withColumn(rn, row_number().over(
        Window.partitionBy(keys.map(col): _*)
          .orderBy(col(versionCol).desc, struct(cols.map(col): _*).desc)))
      .filter(col(rn) === 1).drop(rn)
  }

  /** One micro-batch of the lifecycle: collapse the batch to its
    * max-version change per key, version-conditionally MERGE into the
    * parquet table at `path` (created on first batch), swap. Exposed for
    * direct certification; [[upsertSink]] wires it to foreachBatch.
    */
  def applyBatch(spark: SparkSession, path: String, batch: DataFrame,
                 keys: Seq[String], versionCol: String): Unit = {
    if (batch.isEmpty) return
    // a prior batch killed mid-swap leaves the live dir absent — finish
    // that publish first (publishDirectory would too, but the MERGE
    // below READS the live dir before publishing)
    Layout.recoverPublishPending(spark, path)
    val collapsed = collapse(batch, keys, versionCol)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(path)
    val out =
      if (fs.exists(live))
        Layout.merged(spark.read.parquet(path), collapsed, keys,
          deleteCol = None,
          matchedCond = Some(col(s"c.$versionCol") >= col(s"t.$versionCol")))
      else collapsed
    val staging = s"${path}__staging"
    out.write.mode(SaveMode.Overwrite).parquet(staging)
    // the marker-protocol swap: a kill between its renames recovers
    // mechanically on the next call ([[Layout.publishDirectory]]) —
    // never a moment where nothing self-heals
    Layout.publishDirectory(spark, staging, path)
  }

  /** Attach the upsert sink to a change stream. Each micro-batch runs
    * [[applyBatch]]; exactly-once lands as at-least-once + idempotent
    * replay (the version condition makes re-merging a committed batch a
    * byte-identical rewrite).
    */
  def upsertSink(changes: DataFrame, path: String, keys: Seq[String],
                 versionCol: String, checkpoint: String): StreamingQuery =
    changes.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(batch.sparkSession, path, batch, keys, versionCol)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** The serving view: live rows only (tombstones filtered). */
  def current(spark: SparkSession, path: String, deleteCol: String): DataFrame =
    spark.read.parquet(path).filter(!coalesce(col(deleteCol), lit(false)))

  /** Tombstone GC: rewrite the table keeping live rows and only the
    * tombstones at or above `versionHorizon` — once every producer is
    * past the horizon, no change below it can still arrive, so the
    * resurrection guard is no longer needed for older deletes. Returns
    * the number of tombstones purged.
    *
    * The swap goes through [[Layout.publishDirectory]]'s marker
    * protocol: a kill between the swap's renames recovers mechanically
    * on the next publish (or an explicit
    * [[Layout.recoverPublishPending]]) — never a hand-rolled two-rename
    * gap with no self-heal.
    */
  def purgeTombstones(spark: SparkSession, path: String, deleteCol: String,
                      versionCol: String, versionHorizon: Long): Long = {
    // a prior purge (or any publish) killed mid-swap leaves the live dir
    // absent — finish THAT publish before reading
    Layout.recoverPublishPending(spark, path)
    val t = spark.read.parquet(path)
    val dead = coalesce(col(deleteCol), lit(false))
    val purged = t.filter(dead && col(versionCol) < versionHorizon).count()
    if (purged == 0) return 0L
    val out = t.filter(!dead || col(versionCol) >= versionHorizon)
    val staging = s"${path}__staging"
    out.write.mode(SaveMode.Overwrite).parquet(staging)
    Layout.publishDirectory(spark, staging, path)
    purged
  }
}
