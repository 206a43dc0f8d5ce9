package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout helpers for the 100 TB posture (SURVEY.md §7.7):
  * partition-pruned parquet layouts. A time-partitioned fact table turns
  * every date-bounded query into a file-listing problem instead of a
  * scan — the single biggest lever once data outgrows one machine.
  */
object Layout {

  /** Write a fact table date-partitioned (one directory per day).
    * Queries filtering on `p_date` prune partitions at planning time —
    * verify with PartitionFilters in the scan node.
    */
  def writeDatePartitioned(df: DataFrame, tsCol: String, path: String,
                           extraPartitionCols: Seq[String] = Nil): Unit =
    df.withColumn("p_date", to_date(col(tsCol)))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("p_date" +: extraPartitionCols: _*)
      .parquet(path)

  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Bucketed layout for shuffle-free equi-joins on a hot key: both
    * sides pre-hashed into the same bucket count co-locate join keys, so
    * repeated joins skip their Exchange. Requires saveAsTable (bucket
    * metadata lives in the catalog).
    */
  def writeBucketed(df: DataFrame, keyCol: String, buckets: Int,
                    table: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keyCol)
      .sortBy(keyCol)
      .format("parquet")
      .saveAsTable(table)

  /** MERGE (upsert) relation — SQL MERGE semantics as one declarative
    * plan: apply a CHANGES table to a TARGET by key.
    *  - WHEN MATCHED THEN UPDATE SET * (the change row replaces the
    *    target row wholesale — a legitimately-null change column
    *    overwrites, which is why matching rides a presence flag, not
    *    per-column coalesce);
    *  - WHEN NOT MATCHED THEN INSERT *;
    *  - with `deleteCol` (a boolean on changes): WHEN MATCHED AND
    *    <deleteCol> THEN DELETE, and a delete-flagged row that matches
    *    nothing inserts nothing (a tombstone for an absent key is a
    *    no-op, not an insert);
    *  - with `matchedCond` (SQL's `WHEN MATCHED AND <cond>`): a matched
    *    change row applies — update OR delete — only where the
    *    condition holds; a matched row failing it keeps the TARGET row
    *    untouched. The condition sees both sides as `t.<col>` /
    *    `c.<col>` (e.g. `col("c.version") >= col("t.version")` for a
    *    version-conditional upsert — the clause that makes a CDC merge
    *    order-independent). Inserts are unconditional: the condition
    *    references a target row that does not exist.
    * SQL MERGE raises on >1 change row per key; so does this plan — a
    * codegen'd `assert_true` over a per-key count window on the CHANGES
    * side (changes are the small side; no separate validation job, the
    * check rides the same pass). NULL-key change rows never match (SQL
    * equi-join semantics) and therefore insert; null-key target rows
    * are never matched and survive.
    *
    * Plan shape at 100 TB: ONE equi-join on the key — the planner
    * broadcasts the typical small change set, else it shuffles both
    * sides on the key. Plain parquet has no row-level update, so
    * persisting the merge means rewriting FILES: this relation plus a
    * write to a fresh directory, repointed by [[publishDirectory]].
    * Atomic commit/time-travel needs a table format (Iceberg/Delta — the
    * documented delegation; this zero-egress image cannot ship one).
    */
  def merged(target: DataFrame, changes: DataFrame, keys: Seq[String],
             deleteCol: Option[String] = None,
             matchedCond: Option[Column] = None): DataFrame = {
    val cols = target.columns.toSeq
    require(keys.nonEmpty && keys.forall(cols.contains),
      s"keys $keys must be target columns")
    require(cols.forall(changes.columns.contains),
      "changes must carry every target column")
    deleteCol.foreach(d => require(changes.columns.contains(d),
      s"deleteCol $d missing from changes"))
    val flag = Iterator.iterate("__chg")(_ + "_")
      .dropWhile(c => cols.contains(c) || changes.columns.contains(c)).next()
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    // presence flag doubles as the one-change-row-per-key guard:
    // assert_true returns null on success, so coalesce lands `true`
    val ch = changes
      .withColumn(s"${flag}n", count(lit(1)).over(w))
      .withColumn(flag,
        coalesce(expr(s"assert_true(`${flag}n` = 1, " +
          "'MERGE: more than one change row for a key')"), lit(true)))
      .drop(s"${flag}n")
    val t = target.as("t")
    val c = ch.as("c")
    val cond = keys.map(k => col(s"t.$k") === col(s"c.$k")).reduce(_ && _)
    val joined = t.join(c, cond, "full_outer")
    // a change row APPLIES when present and — if matched and a matched
    // condition is given — the condition holds (an unmatched change has
    // no target row: insert, unconditional)
    val applies = matchedCond match {
      case Some(mc) => col(s"c.$flag").isNotNull &&
        (col(s"t.${keys.head}").isNull || mc)
      case None => col(s"c.$flag").isNotNull
    }
    val kept = deleteCol match {
      case Some(d) => joined.filter(
        !(applies && coalesce(col(s"c.$d"), lit(false))))
      case None => joined
    }
    kept.select(cols.map { cName =>
      when(applies, col(s"c.$cName"))
        .otherwise(col(s"t.$cName")).as(cName)
    }: _*)
  }

  private val PublishMarkerSuffix = "__PUBLISH_PENDING"

  /** Two-phase directory PUBLISH: crash-recoverably repoints `livePath`
    * to the freshly-written directory `fromPath`.
    *  1. Marker: `<live>__PUBLISH_PENDING`, holding the source path, is
    *     written BEFORE any mutation of the live tree.
    *  2. Rename-aside: the live directory is renamed to `<live>__trash`
    *     rather than deleted, so the pre-publish data survives until the
    *     swap has landed.
    *  3. Rename-in: `fromPath` is renamed to `livePath`.
    *  4. Retire: trash is deleted first, then the marker.
    * A kill at ANY point leaves a state [[recoverPublishPending]] (also
    * invoked here first) finishes mechanically.
    *
    * Plain directories cannot give snapshot isolation: a reader listing
    * `livePath` between the two renames sees it absent for two metadata
    * ops. A consistent cut needs a table format's commit.
    */
  def publishDirectory(spark: SparkSession, fromPath: String,
                       livePath: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(livePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverPublishPending(spark, livePath)
    val from = new org.apache.hadoop.fs.Path(fromPath)
    require(fs.exists(from), s"publish source missing: $fromPath")
    val marker = new org.apache.hadoop.fs.Path(livePath + PublishMarkerSuffix)
    val outStream = fs.create(marker, true)
    try outStream.write(fromPath.getBytes("UTF-8")) finally outStream.close()
    applyPublish(fs, fromPath, livePath)
  }

  /** Finish (or replay) a [[publishDirectory]] from its marker: a
    * missing marker is a no-op (returns false); with a marker, a still-
    * present source means the swap has not landed (the source only
    * leaves by renaming INTO the live path) and is redone; a vanished
    * source means it landed and only cleanup remains.
    */
  def recoverPublishPending(spark: SparkSession, livePath: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(livePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(livePath + PublishMarkerSuffix)
    if (!fs.exists(marker)) return false
    val in = fs.open(marker)
    val fromPath = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
    applyPublish(fs, fromPath, livePath)
    true
  }

  private def applyPublish(fs: org.apache.hadoop.fs.FileSystem,
                           fromPath: String, livePath: String): Unit = {
    val from = new org.apache.hadoop.fs.Path(fromPath)
    val live = new org.apache.hadoop.fs.Path(livePath)
    val trash = new org.apache.hadoop.fs.Path(livePath + "__trash")
    if (fs.exists(from)) {
      if (fs.exists(live)) {
        // keep the FIRST aside — it is the pre-publish data; a live dir
        // next to an existing trash can only be a replayed half-state
        if (fs.exists(trash)) fs.delete(live, true) else fs.rename(live, trash)
      }
      fs.rename(from, live)
    } // else: already landed, cleanup only
    // trash BEFORE marker: a kill between the two re-enters recovery
    // (marker still present), which finds nothing left to do
    fs.delete(trash, true)
    fs.delete(new org.apache.hadoop.fs.Path(livePath + PublishMarkerSuffix), false)
  }
}
