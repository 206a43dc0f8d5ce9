package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A committer attempted a conditional commit ([[SnapshotTable.commit]]
  * with `expectedBase`) and lost the race: another version landed (or a
  * rival's claim is pending) between its snapshot read and its claim.
  * The table is UNTOUCHED by the loser — callers re-read the new base,
  * recompute, and retry (which is exactly what [[SnapshotTable.merge]]
  * and [[SnapshotTable.mergeScoped]] do internally).
  */
class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

/** The atomic "take version N" primitive the snapshot commit protocol
  * rests on — the one operation that must be exclusive CROSS-PROCESS.
  * [[CreateExclusive]] (the default) uses filesystem create-with-
  * overwrite=false: atomic on HDFS, and on a plain POSIX fs exclusive
  * up to the same-JVM lock [[SnapshotTable]] holds around it. An
  * object-store deployment injects a conditional-put implementation
  * instead (S3 `If-None-Match: *`, GCS `ifGenerationMatch=0`, Azure
  * `If-None-Match`) via [[SnapshotTable.claimPrimitive]] — the rest of
  * the protocol (claim → stage → manifest rename) is unchanged, which
  * is the point of the seam.
  */
trait CommitPrimitive {
  /** Atomically create the claim marker at `path` iff absent.
    * True = the version is ours; false = a rival holds it. Must never
    * partially succeed.
    */
  def tryClaim(f: org.apache.hadoop.fs.FileSystem,
               path: org.apache.hadoop.fs.Path): Boolean

  /** Retire a claim this writer owns (after its manifest landed, or
    * when aborting).
    */
  def release(f: org.apache.hadoop.fs.FileSystem,
              path: org.apache.hadoop.fs.Path): Unit
}

/** The filesystem default: create-exclusive + delete. */
object CreateExclusive extends CommitPrimitive {
  def tryClaim(f: org.apache.hadoop.fs.FileSystem,
               path: org.apache.hadoop.fs.Path): Boolean =
    try { f.create(path, false).close(); true }
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException => false
    }
  def release(f: org.apache.hadoop.fs.FileSystem,
              path: org.apache.hadoop.fs.Path): Unit =
    f.delete(path, false)
}

/** A minimal manifest-of-files table format: ATOMIC snapshot commits
  * over plain parquet — the missing piece every directory-swap helper
  * in [[Layout]] documents ("snapshot isolation needs a table format's
  * commit"). The protocol is the public Iceberg/Delta core in its
  * smallest honest form:
  *
  * {{{
  * table/
  *   data-00001/part-*.parquet      immutable once committed
  *   data-00002/part-*.parquet
  *   _graft_meta/manifest-00001     one relative file path per line
  *   _graft_meta/manifest-00002     (newest N = the current snapshot)
  *   _graft_meta/claim-00003        a writer's exclusive version lease
  * }}}
  *
  * THE COMMIT POINT IS THE MANIFEST FILE ITSELF: a snapshot exists
  * exactly when `manifest-N` exists, and the current version is the
  * HIGHEST existing manifest. There is no HEAD pointer to repoint —
  * the earlier HEAD-rename design was NOT atomic on HDFS (rename onto
  * an existing dest returns false there, forcing a delete+rename pair
  * with a vanish window and a crash hole that lost HEAD outright), so
  * the pointer is gone rather than patched: resolving "newest manifest"
  * is one directory listing of `_graft_meta`, bounded by the retained
  * VERSION count (vacuumed), never by data-file count. Manifests become
  * visible ATOMICALLY with complete content: the writer stages
  * `manifest-N.tmp-*` and renames it to `manifest-N` — a single-file
  * rename to a NON-existent destination, atomic on POSIX and HDFS alike
  * (the claim below guarantees the destination is ours and vacant).
  *
  * CONCURRENT WRITERS are safe, not merely documented away: a writer
  * first takes `claim-N` via create-exclusive (atomic on HDFS; plus a
  * process-wide lock that strictly serializes same-JVM claimants, the
  * local[*] case) — exactly one writer owns any version number, a loser
  * sees FileAlreadyExists and retries at N+1, and `data-N` is written
  * only by N's owner so no two writers ever touch the same directory.
  * Read-modify-write flows (MERGE) pass `expectedBase`: the claim must
  * be the IMMEDIATE successor of the base the writer read, else the
  * claim is released and [[ConcurrentCommitException]] tells the caller
  * to re-read and recompute — the optimistic-concurrency loop both
  * merge entry points run internally, so concurrent mergers never lose
  * updates.
  *
  * Consequences:
  *  - NO vanish window: a concurrent reader resolves entirely the old
  *    snapshot or entirely the new one — data files are immutable and
  *    never deleted by a commit;
  *  - crash ANYWHERE before the manifest rename leaves the table
  *    exactly at the previous snapshot (orphan claims, data dirs and
  *    manifest tmps are inert garbage, reclaimed by [[vacuum]]); a
  *    crashed claim leaves a version-number GAP, which every reader
  *    and [[vacuum]] tolerate by construction (only manifests that
  *    EXIST are versions);
  *  - time travel for free: any retained manifest can be read;
  *  - manifests may SHARE data files across versions — [[mergeScoped]]
  *    rewrites only the files its changes touch and carries every
  *    other manifest line forward verbatim, the Iceberg-style scale
  *    path where a 1% change set rewrites 1% of the files.
  *
  * At 100 TB this is also the LISTING fix: a snapshot read opens one
  * meta listing + one manifest instead of recursively listing millions
  * of data files. Out of scope, honestly: row-level deletes need
  * delete files — [[commit]] does whole-snapshot replaces and
  * [[mergeScoped]] file-scoped ones; and create-exclusive on a plain
  * POSIX fs has a theoretical simultaneous-create window (HDFS makes
  * it atomic; object stores want a conditional put) — same-process
  * writers, the only kind a single local JVM can race, are serialized
  * by the claim lock regardless.
  */
object SnapshotTable {

  private val MetaDir = "_graft_meta"
  private val ManifestRe = "^manifest-([0-9]{5})$".r
  private val ClaimRe = "^claim-([0-9]{5})$".r

  /** Same-JVM claimants serialize here (one lock per table path): the
    * filesystem's create-exclusive is the cross-process primitive, but
    * a plain local fs leaves a simultaneous-create window two threads
    * of one JVM could in principle hit — and one JVM is exactly what
    * local[*] runs. Held only across [compute next, create claim]:
    * microseconds, never during data writes.
    */
  private val claimLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The injectable claim primitive (see [[CommitPrimitive]]) —
    * deployment-level configuration, set once at startup when the
    * table root is an object store. Every claim take and retirement
    * routes through it.
    */
  @volatile var claimPrimitive: CommitPrimitive = CreateExclusive

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def hp(parts: String*) =
    new org.apache.hadoop.fs.Path(parts.mkString("/"))

  private def metaNames(f: org.apache.hadoop.fs.FileSystem,
                        table: String): Seq[String] = {
    val dir = hp(table, MetaDir)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).map(_.getPath.getName).toSeq
  }

  /** Current committed version = the highest EXISTING manifest; 0 when
    * the table has no snapshot. Self-healing by construction: there is
    * no pointer file to lose, and a crashed writer's claim/tmp leaves
    * at most a version-number gap, never a dangling reference.
    */
  def currentVersion(spark: SparkSession, table: String): Long =
    metaNames(fs(spark, table), table)
      .collect { case ManifestRe(n) => n.toLong }
      .foldLeft(0L)(math.max)

  /** One manifest entry: a relative file path plus per-column [min,
    * max] envelopes for the columns [[commit]] recorded stats on. A
    * column absent from the map has no envelope in this file (all-null
    * there, or never recorded) and can never be pruned on.
    */
  case class ManifestEntry(path: String, stats: Map[String, (Long, Long)]) {
    /** The exact line [[commit]] writes — [[mergeScoped]] carries
      * untouched entries into the next manifest verbatim through this.
      */
    def render: String =
      (path +: stats.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
        s"$c=$lo..$hi"
      }).mkString("\t")
  }

  private val SchemaHeader = "#schema\t"
  private val TsHeader = "#ts\t"
  private val OpHeader = "#op\t"
  /** `#range\t<col>\t<lo>\t<hi>`: the parameters of a [[deleteRange]]
    * commit, recorded so the change-data-feed can express the commit
    * as ONE range-retraction event instead of refusing — a retention
    * sweep is the single most likely maintenance op on exactly the
    * time-clustered tables people stream from, and without this header
    * it would permanently kill every downstream feed. The boundary
    * rewrite is purely physical (surviving rows keep their identity),
    * so the range IS the commit's complete logical change.
    */
  private val RangeHeader = "#range\t"
  private val LedgerTag = "#ledger"
  private val IncludeTag = "@include"
  private val DeleteTag = "@delete"
  private val LeafRe = "^leaf-([0-9]{5})(?:-[0-9]+)?$".r
  private val DataVerRe = "data-([0-9]{5})".r
  /** Reserved stats token: a file's exact row count as a degenerate
    * `__rows=n..n` envelope (see [[rowCount]]). Not a prunable column —
    * reserved so user stats columns cannot collide with it.
    */
  private val RowsCol = "__rows"

  /** Reserved stats-token prefix: `__nn_<col>=k..k` records the file's
    * NULL COUNT in stats column `<col>`. Envelopes cover non-null
    * values only — correct for range PRUNING (a range predicate never
    * matches NULL) but NOT for [[deleteRange]]'s metadata-only file
    * drop: a file whose non-null values all sit inside the range may
    * still hold null rows, which SQL DELETE semantics keep. The drop
    * therefore requires a certified zero null count; without the token
    * (older manifests) the file is conservatively rewritten instead.
    * On leaf include lines the aggregate is [min, max] over the folded
    * files' counts, so `hi == 0` certifies a whole leaf null-free.
    */
  private val NullsPrefix = "__nn_"

  /** Reserved INCLUDE-line token: the minimum data version among a
    * leaf's entries (`__minv=k..k`). For append-written leaves this
    * equals the leaf's own version (leaf-N ⊆ data-N); for MERGED
    * leaves ([[rewriteManifests]]) it does not — and the delete-drop
    * rule MUST use it, else a delete older than the merged leaf's NAME
    * but newer than some folded file would be dropped while its
    * victims still exist on disk.
    */
  private val MinVerCol = "__minv"

  /** The minimum data version inside an include line's leaf: its
    * `__minv` token when present, else the leaf's own version (the
    * append invariant).
    */
  private def includeMinVersion(il: IncludeLine): Long =
    il.stats.get(MinVerCol).map(_._1).getOrElse(il.leaf match {
      case LeafRe(n) => n.toLong
      case _ => 0L
    })

  /** The version whose commit wrote this file — parsed from its data
    * dir (`data-N/...`), the file's Iceberg-style SEQUENCE NUMBER. An
    * equality delete committed at version D applies exactly to files
    * with a LOWER number: rows re-inserted (or rewritten by a merge /
    * compaction) after the delete land in a higher-numbered dir and
    * are untouched by it. The LAST `data-N` segment wins: callers may
    * pass a full URI, and the TABLE ROOT itself could contain a
    * data-N-shaped directory name above the table (the same defense
    * [[applyDeletes]]'s row-side extraction takes with element_at(-1)).
    */
  private def dataVersionOf(rel: String): Long =
    DataVerRe.findAllMatchIn(rel).toSeq.lastOption
      .map(_.group(1).toLong).getOrElse(0L)

  private def manifestLines(f: org.apache.hadoop.fs.FileSystem,
                            table: String, v: Long): Seq[String] = {
    val in = f.open(hp(table, MetaDir, f"manifest-$v%05d"))
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  private val StatTok = "([^=]+)=(-?[0-9]+)\\.\\.(-?[0-9]+)".r

  private def parseStats(toks: Seq[String]): Map[String, (Long, Long)] =
    toks.map {
      case StatTok(c, lo, hi) => c -> (lo.toLong, hi.toLong)
      case other => throw new IllegalStateException(
        s"malformed manifest stat token: $other")
    }.toMap

  private def parseEntry(line: String): ManifestEntry = {
    val toks = line.split("\t")
    ManifestEntry(toks.head, parseStats(toks.tail.toSeq))
  }

  /** A top-level manifest line: a data-file entry, or an `@include` of
    * an immutable LEAF manifest — the Iceberg manifest-list layer in
    * its smallest form. An include line carries AGGREGATE envelopes
    * (min-of-los .. max-of-his over its leaf's entries, for columns
    * every entry has), so scoped merges and pruned reads can skip a
    * WHOLE LEAF without opening it; the top manifest then grows with
    * the number of APPENDS, not the number of data files.
    */
  private sealed trait TopLine { def raw: String }
  private case class EntryLine(entry: ManifestEntry) extends TopLine {
    def raw: String = entry.render
  }
  private case class IncludeLine(leaf: String, stats: Map[String, (Long, Long)],
                                 raw: String) extends TopLine
  /** An EQUALITY-DELETE file: `path` holds key rows (parquet, columns
    * `cols`); every data file with a lower data-version serves its
    * rows MINUS the keys — resolved at read (merge-on-read), purged
    * physically by compaction. `stats` carries the key file's certified
    * `__rows` envelope (absent on lines written before the token), so
    * [[applyDeletes]] can size its broadcast-vs-shuffle decision from
    * the manifest alone.
    */
  private case class DeleteLine(path: String, cols: Seq[String],
                                stats: Map[String, (Long, Long)],
                                raw: String) extends TopLine {
    def appliesBelow: Long = dataVersionOf(path)
  }

  private def topLines(f: org.apache.hadoop.fs.FileSystem,
                       table: String, v: Long): Seq[TopLine] =
    manifestLines(f, table, v).filterNot(_.startsWith("#")).map { line =>
      if (line.startsWith(IncludeTag + "\t")) {
        val toks = line.split("\t")
        IncludeLine(toks(1), parseStats(toks.drop(2).toSeq), line)
      } else if (line.startsWith(DeleteTag + "\t")) {
        val toks = line.split("\t")
        DeleteLine(toks(1), toks(2).split(",").toSeq,
          parseStats(toks.drop(3).toSeq), line)
      } else EntryLine(parseEntry(line))
    }

  private def leafEntries(f: org.apache.hadoop.fs.FileSystem,
                          table: String, leaf: String): Seq[ManifestEntry] = {
    val in = f.open(hp(table, MetaDir, leaf))
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).map(parseEntry).toList
    finally in.close()
  }

  /** Write a leaf manifest under `name` (immutable; the claim on its
    * version prefix makes the name ours) and return its include line:
    * aggregate envelopes only for columns EVERY entry carries — a
    * column missing somewhere cannot prune at leaf resolution and is
    * omitted (conservative) — plus the reserved `__minv` token (see
    * [[MinVerCol]]: the delete-drop rule depends on it for MERGED
    * leaves).
    */
  private def writeLeaf(f: org.apache.hadoop.fs.FileSystem, table: String,
                        name: String, entryLines: Seq[String]): String = {
    val out = f.create(hp(table, MetaDir, name), false)
    try out.write(entryLines.mkString("\n").getBytes("UTF-8")) finally out.close()
    val entries = entryLines.map(parseEntry)
    val shared = entries.map(_.stats.keySet).reduce(_ intersect _) - MinVerCol
    val agg = shared.toSeq.sorted.map { c =>
      val ranges = entries.map(_.stats(c))
      s"$c=${ranges.map(_._1).min}..${ranges.map(_._2).max}"
    }
    val minv = entries.map(e => dataVersionOf(e.path)).min
    (Seq(IncludeTag, name) ++ agg :+ s"$MinVerCol=$minv..$minv").mkString("\t")
  }

  /** Split a snapshot's top lines for a scoped rewrite: lines whose
    * envelope PROVABLY excludes the touched set carry forward verbatim
    * (an include is skipped WITHOUT opening its leaf — the manifest-
    * list payoff), everything else resolves to entries and partitions
    * per file. Returns (carried raw lines, touched entries).
    */
  private def splitForRewrite(f: org.apache.hadoop.fs.FileSystem, table: String,
                              v: Long,
                              untouchedEnvelope: Map[String, (Long, Long)] => Boolean,
                              entryTouched: ManifestEntry => Boolean)
      : (Seq[String], Seq[ManifestEntry]) = {
    val carried = Seq.newBuilder[String]
    val touched = Seq.newBuilder[ManifestEntry]
    topLines(f, table, v).foreach {
      case il: IncludeLine if untouchedEnvelope(il.stats) =>
        carried += il.raw
      case il: IncludeLine =>
        leafEntries(f, table, il.leaf).foreach { e =>
          if (entryTouched(e)) touched += e else carried += e.render
        }
      case el: EntryLine =>
        if (entryTouched(el.entry)) touched += el.entry
        else carried += el.entry.render
      // delete lines carry verbatim: they apply only to data versions
      // below their own, so the rewrite's NEW files (higher version)
      // are out of their reach by construction — and the touched slice
      // is read delete-aware, so purged rows don't resurrect
      case dl: DeleteLine => carried += dl.raw
    }
    (carried.result(), touched.result())
  }

  private def resolve(spark: SparkSession, table: String, version: Long): Long = {
    val v = if (version > 0L) version else currentVersion(spark, table)
    require(v > 0L, s"$table has no committed snapshot")
    v
  }

  /** The schema committed with snapshot `version` (default: current) —
    * the manifest's `#schema` header, so every reader sees the SAME
    * columns regardless of which data file's footer would win the
    * listing lottery (the readParquetEvolving failure mode, closed at
    * the format level). None for pre-header manifests.
    */
  def snapshotSchema(spark: SparkSession, table: String,
                     version: Long = 0L): Option[org.apache.spark.sql.types.StructType] = {
    val v = resolve(spark, table, version)
    manifestLines(fs(spark, table), table, v)
      .find(_.startsWith(SchemaHeader))
      .map(l => org.apache.spark.sql.types.DataType
        .fromJson(l.stripPrefix(SchemaHeader))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** The wall-clock instant snapshot `version` (default: current)
    * committed — the manifest's `#ts` header, stamped atomically with
    * the commit itself ([[commitManifest]]). None only for manifests
    * written before the header existed.
    */
  def commitTimestamp(spark: SparkSession, table: String,
                      version: Long = 0L): Option[Long] = {
    val v = resolve(spark, table, version)
    // header-only read: stop at the first non-header line, so sweeping
    // timestamps across many retained versions ([[versionAt]],
    // [[vacuum]]'s retainFor) never materializes a large manifest body
    val in = fs(spark, table).open(hp(table, MetaDir, f"manifest-$v%05d"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .takeWhile(_.startsWith("#"))
      .find(_.startsWith(TsHeader))
      .map(_.stripPrefix(TsHeader).trim.toLong)
    finally in.close()
  }

  /** TIME TRAVEL BY TIMESTAMP: the newest retained version whose commit
    * timestamp is at or before `tsMs` — `SELECT ... TIMESTAMP AS OF` in
    * the format's own terms. Resolved from manifest headers alone. A
    * pre-`#ts` manifest (no stamp) is older than every stamped one and
    * is eligible at any `tsMs`. Errors loudly when every retained
    * snapshot is newer than `tsMs` (the history before it was vacuumed
    * or never existed — serving the later version silently would be a
    * wrong answer, not time travel).
    */
  def versionAt(spark: SparkSession, table: String, tsMs: Long): Long = {
    val f = fs(spark, table)
    val versions = metaNames(f, table)
      .collect { case ManifestRe(n) => n.toLong }.sorted
    require(versions.nonEmpty, s"$table has no committed snapshot")
    val eligible = versions.filter(v =>
      commitTimestamp(spark, table, v).forall(_ <= tsMs))
    require(eligible.nonEmpty,
      s"$table: no retained snapshot committed at or before $tsMs — " +
        s"the earliest retained version is v${versions.head}" +
        commitTimestamp(spark, table, versions.head)
          .map(t => s" (committed $t)").getOrElse(""))
    eligible.last
  }

  /** The OPERATION that committed snapshot `version` (default:
    * current) — the manifest's `#op` header: "append", "replace",
    * "merge", "update" (SQL UPDATE), "delete" (deleteWhere),
    * "deleteRange", "compact",
    * "rewriteManifests". None for pre-header manifests. The
    * change-data-feed classifies versions by this; `history()`
    * surfaces it.
    */
  def commitOp(spark: SparkSession, table: String,
               version: Long = 0L): Option[String] = {
    val v = resolve(spark, table, version)
    val in = fs(spark, table).open(hp(table, MetaDir, f"manifest-$v%05d"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .takeWhile(_.startsWith("#"))
      .find(_.startsWith(OpHeader))
      .map(_.stripPrefix(OpHeader).trim)
    finally in.close()
  }

  /** The `(column, lo, hi)` a [[deleteRange]] commit recorded in its
    * `#range` manifest header — the commit's complete logical change
    * (delete every row whose `cast(col as long)` falls in [lo, hi];
    * null and non-castable values survive, SQL DELETE semantics).
    * None for non-range commits and for pre-header range manifests,
    * where the change feed falls back to its refusal.
    */
  def commitRange(spark: SparkSession, table: String,
                  version: Long = 0L): Option[(String, Long, Long)] = {
    val v = resolve(spark, table, version)
    val in = fs(spark, table).open(hp(table, MetaDir, f"manifest-$v%05d"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .takeWhile(_.startsWith("#"))
      .find(_.startsWith(RangeHeader))
      .map { l =>
        val parts = l.stripPrefix(RangeHeader).split("\t")
        (parts(0), parts(1).toLong, parts(2).toLong)
      }
    finally in.close()
  }

  /** The stat columns snapshot `version` (default: current) carries
    * envelopes for — the union of non-reserved stat tokens over the
    * manifest's data lines, resolved without opening a data file. The
    * SQL write door derives its statsCols from this so `INSERT INTO` /
    * `INSERT OVERWRITE` / the SQL range DELETE's boundary rewrite keep
    * the envelopes a Scala-door commit established (writing with
    * statsCols = Nil there would silently disable [[readPruned]] and
    * the DSv2 file pruning table-wide until the next Scala commit).
    * Empty when the table has no snapshot.
    */
  def statsColsOf(spark: SparkSession, table: String,
                  version: Long = 0L): Seq[String] = {
    if (currentVersion(spark, table) == 0L) return Nil
    val v = resolve(spark, table, version)
    topLines(fs(spark, table), table, v).flatMap {
      case il: IncludeLine => il.stats.keys
      case el: EntryLine => el.entry.stats.keys
      case _: DeleteLine => Seq.empty[String]
    }.distinct.filterNot(c => c == RowsCol || c == MinVerCol ||
      c.startsWith(NullsPrefix)).sorted
  }

  private val PinPrefix = "pin-"

  /** A vacuum-proof slug for a consumer identity (pins are files; the
    * identity is typically a checkpoint PATH): readable head + content
    * hash so distinct identities can never collide.
    */
  private def pinName(consumerId: String): String = {
    val slug = consumerId.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(40)
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(consumerId.getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    s"$PinPrefix$slug-$h"
  }

  /** RETENTION PIN: record that consumer `consumerId` still needs
    * version `version` and everything after it — [[vacuum]] keeps every
    * manifest at or above the MINIMUM live pin, whatever its `retain`
    * says, so an aggressive vacuum cannot break a lagging streaming
    * consumer's replay (the incremental read of (v, v'] needs BOTH
    * manifests). Pins are monotone (never lowered) and refreshed on
    * every call — a LIVE consumer's pin mtime stays fresh; a dead
    * consumer's stops moving and ages out under vacuum's `pinMaxAgeMs`,
    * so an abandoned checkpoint cannot pin the table's history forever.
    * The snapshot streaming source pins automatically from its commit
    * callback; batch consumers doing incremental reads can pin
    * explicitly.
    */
  def pinVersion(spark: SparkSession, table: String, consumerId: String,
                 version: Long): Unit = {
    require(version >= 1L, s"pin needs a committed version, got $version")
    val f = fs(spark, table)
    f.mkdirs(hp(table, MetaDir))
    val p = hp(table, MetaDir, pinName(consumerId))
    val prior = readPin(f, p)
    // refresh even at an UNCHANGED version: the rewrite bumps mtime, so
    // a live consumer at a stable offset (no new data for days) does
    // not age out like a dead one
    if (prior.forall(_ <= version)) {
      // ATOMIC publish (tmp + overwrite-rename): a truncate-then-write
      // rewrite interrupted mid-flight — a stopping stream's last idle
      // refresh, a killed process — left a permanently EMPTY pin file,
      // destroying the consumer's recorded floor (readers then see the
      // conservative 0). With the rename, readers see the old pin or
      // the new one, never a torn file. The dot-prefixed tmp never
      // matches PinPrefix, so it can't masquerade as a pin; orphans
      // age out under vacuum's pin sweep.
      val tmp = hp(table, MetaDir,
        s".${pinName(consumerId)}.tmp-${System.nanoTime()}")
      val out = f.create(tmp, true)
      try out.write(s"$version\t$consumerId".getBytes("UTF-8"))
      finally out.close()
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          f.makeQualified(tmp).toUri, spark.sparkContext.hadoopConfiguration)
        fc.rename(f.makeQualified(tmp), f.makeQualified(p),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      } catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException |
             _: UnsupportedOperationException =>
          // no AbstractFileSystem for this scheme: delete+rename —
          // a reader in the gap sees ABSENT (None), never torn. If the
          // rename then FAILS, restore the old pin from `prior` (its
          // content is reconstructible: version + consumerId) instead
          // of leaving the consumer with NO pin — an absent pin would
          // let vacuum sweep its replay window, a worse outcome than
          // the torn-file state this path exists to avoid.
          f.delete(p, false)
          if (!f.rename(tmp, p)) {
            f.delete(tmp, false)
            prior.foreach { old =>
              val back = f.create(p, true)
              try back.write(s"$old\t$consumerId".getBytes("UTF-8"))
              finally back.close()
            }
          }
      }
    }
  }

  /** A pin file's version; Some(0) on a torn/unparsable read — the
    * CONSERVATIVE floor (keep everything) because a vacuum that guesses
    * wrong deletes a live consumer's replay window.
    */
  private def readPin(f: org.apache.hadoop.fs.FileSystem,
                      p: org.apache.hadoop.fs.Path): Option[Long] =
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      Some(scala.util.Try(txt.split("\t").head.trim.toLong).getOrElse(0L))
    }

  /** Live pins on the table: consumer pin-file name → pinned version.
    * Operational introspection (who is holding history, how far back).
    */
  def pinnedVersions(spark: SparkSession, table: String): Map[String, Long] = {
    val f = fs(spark, table)
    metaNames(f, table).filter(_.startsWith(PinPrefix)).flatMap { name =>
      readPin(f, hp(table, MetaDir, name)).map(name -> _)
    }.toMap
  }

  /** Drop a consumer's pin (a decommissioned consumer releasing its
    * hold explicitly instead of waiting out `pinMaxAgeMs`). True when
    * a pin was actually removed.
    */
  def unpin(spark: SparkSession, table: String, consumerId: String): Boolean =
    fs(spark, table).delete(hp(table, MetaDir, pinName(consumerId)), false)

  /** The sink-commit ledger of snapshot `version`: for each streaming
    * sink identity, the highest micro-batch id whose append COMMITTED —
    * the `#ledger` header lines. This is what turns foreachBatch's
    * at-least-once replay into exactly-once ingest: the commit point of
    * the batch and of the ledger entry is the SAME manifest rename, so
    * a replayed batch either finds its id already in the ledger (the
    * crash was after the commit — skip) or doesn't (before — append).
    */
  private def ledgerOf(f: org.apache.hadoop.fs.FileSystem, table: String,
                       v: Long): Map[String, Long] =
    if (v == 0L) Map.empty
    else manifestLines(f, table, v).filter(_.startsWith(LedgerTag + "\t"))
      .map { l => val t = l.split("\t"); t(1) -> t(2).toLong }.toMap

  private def ledgerLines(m: Map[String, Long]): Seq[String] =
    m.toSeq.sortBy(_._1).map { case (s, b) => s"$LedgerTag\t$s\t$b" }

  /** The highest batchId committed for `sinkId` (None: never seen) —
    * see [[append]]'s `ledger` parameter.
    */
  def lastCommittedBatch(spark: SparkSession, table: String,
                         sinkId: String): Option[Long] = {
    val cur = currentVersion(spark, table)
    ledgerOf(fs(spark, table), table, cur).get(sinkId)
  }

  /** Manifest entries of snapshot `version` (default: current), with
    * `@include`d leaves EXPANDED. Line format per entry: `relpath`
    * optionally followed by `\tcol=lo..hi` per stats column — written
    * at commit time, powering [[readPruned]]'s file skipping. Header
    * lines (`#...`) carry table metadata (the schema).
    */
  def snapshotEntries(spark: SparkSession, table: String,
                      version: Long = 0L): Seq[ManifestEntry] = {
    val v = resolve(spark, table, version)
    val f = fs(spark, table)
    topLines(f, table, v).flatMap {
      case EntryLine(e) => Seq(e)
      case il: IncludeLine => leafEntries(f, table, il.leaf)
      case _: DeleteLine => Nil // key files, not data files
    }
  }

  /** Relative data-file paths of snapshot `version` (default: current). */
  def snapshotFiles(spark: SparkSession, table: String,
                    version: Long = 0L): Seq[String] =
    snapshotEntries(spark, table, version).map(_.path)

  /** Read a snapshot (default: the current one) — the exact committed
    * file list, no directory listing of the data tree, under the
    * MANIFEST's schema: files written before a column was added serve
    * NULL for it, and which footer the reader lists first can never
    * change the columns (contrast plain `spark.read.parquet`'s footer
    * lottery on drifted directories — Sources.readParquetEvolving's
    * whole reason to exist, solved here at the format level without
    * the per-file footer union mergeSchema pays).
    */
  def read(spark: SparkSession, table: String, version: Long = 0L): DataFrame = {
    val v = resolve(spark, table, version)
    applyDeletes(spark, table, v,
      readPaths(spark, table, v,
        snapshotFiles(spark, table, version).map(rel => s"$table/$rel")))
  }

  private def readPaths(spark: SparkSession, table: String, v: Long,
                        paths: Seq[String]): DataFrame =
    snapshotSchema(spark, table, v) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** Snapshot `version`'s equality-delete entries (path → key columns);
    * empty on a table that has never seen [[deleteWhere]].
    */
  def deleteFiles(spark: SparkSession, table: String,
                  version: Long = 0L): Seq[(String, Seq[String])] = {
    val v = resolve(spark, table, version)
    topLines(fs(spark, table), table, v)
      .collect { case dl: DeleteLine => dl.path -> dl.cols }
  }

  /** Above this many OUTSTANDING delete-key rows (summed over a
    * snapshot's delete files per key-column set), [[applyDeletes]]
    * drops its broadcast hint and lets the anti-join shuffle: a
    * pipeline that defers compaction under a heavy delete load must
    * degrade to a shuffled anti-join, not to a broadcast OOM. The
    * default fits comfortably in executor memory (key rows are a few
    * dozen bytes); compaction purges the backlog either way.
    */
  @volatile var deleteBroadcastMaxRows: Long = 4L * 1000 * 1000

  /** A delete file's key-row count: the manifest-certified `__rows`
    * token when present, else one driver-side footer read (lines
    * written before the token landed).
    */
  private def deleteRows(spark: SparkSession, table: String,
                         dl: DeleteLine): Long =
    dl.stats.get(RowsCol).map(_._1).getOrElse(
      footerStats(spark, hp(table, dl.path), Nil)._1)

  /** MERGE-ON-READ: subtract the snapshot's equality deletes from `df`
    * (a read of some subset of its data files). Each row's SEQUENCE
    * NUMBER is its file's data-version (from `input_file_name`); a
    * delete file at version D anti-joins away matching keys in rows
    * whose number is BELOW D — re-inserted and rewritten rows are out
    * of reach by construction. One anti-join per distinct key-column
    * set (typically one): BROADCAST while the manifest-certified
    * backlog is at or under [[deleteBroadcastMaxRows]], a shuffled
    * anti-join past it (the null-safe key equalities hash-partition;
    * the sequence-number bound rides as the residual condition).
    * Tables without deletes return `df` untouched — the common path
    * pays nothing.
    */
  private def applyDeletes(spark: SparkSession, table: String, v: Long,
                           df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, input_file_name,
      lit, regexp_extract}
    val deletes = topLines(fs(spark, table), table, v)
      .collect { case dl: DeleteLine => dl }
    if (deletes.isEmpty) return df
    val dv = Iterator.iterate("__dv")(_ + "_")
      .dropWhile(df.columns.contains).next()
    // the LAST data-N segment of the file URI (the table path itself
    // could contain a data-N-shaped directory name above the table)
    val tagged = df.withColumn(dv,
      org.apache.spark.sql.functions.element_at(
        org.apache.spark.sql.functions.regexp_extract_all(
          input_file_name(), lit("data-([0-9]{5})/"), lit(1)), -1).cast("long"))
    val out = deletes.groupBy(_.cols).foldLeft(tagged) { case (d, (cols, dels)) =>
      val keys = dels.map { de =>
        spark.read.parquet(s"$table/${de.path}")
          .select(cols.map(col): _*)
          .withColumn("__below", lit(de.appliesBelow))
      }.reduce(_ unionByName _)
      val cond = cols.map(c => d(c) <=> keys(c)).reduce(_ && _) &&
        keys("__below") > d(dv)
      val backlog = dels.map(de => deleteRows(spark, table, de)).sum
      val side = if (backlog <= deleteBroadcastMaxRows) broadcast(keys) else keys
      d.join(side, cond, "left_anti")
    }
    out.drop(dv)
  }

  /** ROW-LEVEL DELETE, merge-on-read: commit the distinct rows of
    * `keys` (a frame of key columns) as an EQUALITY-DELETE file — no
    * data file is read or rewritten; the commit cost is the key rows,
    * regardless of how scattered the victims are or how big the table
    * is. Readers ([[read]]/[[readPruned]]/[[readAdded]], and the merge
    * paths through them) resolve deletes with a broadcast anti-join;
    * [[compactScoped]]/[[compactSnapshot]]/[[merge]] purge them
    * physically (rewritten rows carry a higher sequence number, putting
    * them out of the delete's reach, and a delete no remaining file
    * pre-dates is dropped from the manifest).
    *
    * Contrast [[mergeScoped]] with a delete flag — copy-on-write, which
    * rewrites every TOUCHED FILE: at 100 TB a compliance-delete of
    * scattered keys would rewrite orders of magnitude more bytes than
    * it removes; here it writes kilobytes and defers the rewrite to the
    * next scheduled compaction of each scope.
    *
    * Semantics: a key row deletes ALL rows equal on the delete frame's
    * columns (SQL `DELETE WHERE (k1,k2) IN (...)`; null keys match via
    * null-safe equality). Rows appended AFTER the delete are new rows
    * and survive. Returns the committed version.
    */
  def deleteWhere(spark: SparkSession, table: String, keys: DataFrame): Long = {
    require(keys.columns.nonEmpty, "delete keys need at least one column")
    retryingCommit(spark, table) { base =>
      require(base > 0L, s"$table has no committed snapshot")
      val f = fs(spark, table)
      val schema = snapshotSchema(spark, table, base)
      schema.foreach { s =>
        val have = s.fields.map(_.name.toLowerCase).toSet
        keys.columns.foreach(c => require(have.contains(c.toLowerCase),
          s"delete key column '$c' is not in the table schema"))
      }
      val prior = topLines(f, table, base).map(_.raw)
      withClaim(f, table, Some(base)) { n =>
        val written = writeData(spark, table, n, keys.dropDuplicates(), Nil)
        require(written.nonEmpty, "refusing to commit an empty delete set")
        val colList = keys.columns.mkString(",")
        // carry the key file's `__rows` token onto the delete line: the
        // manifest then certifies the outstanding delete backlog size,
        // and readers size the broadcast-vs-shuffle decision without
        // opening a footer
        val delLines = written.map { l =>
          val toks = l.split("\t")
          (Seq(DeleteTag, toks.head, colList) ++
            toks.tail.filter(_.startsWith(RowsCol + "="))).mkString("\t")
        }
        val headers = schema.map(schemaLine).toSeq ++
          ledgerLines(ledgerOf(f, table, base))
        commitManifest(f, table, n, headers ++ prior ++ delLines, "delete")
      }
    }
  }

  /** Take `claim-N` for the next free version. Returns the claimed N.
    * Exclusive: create(overwrite=false) is the cross-process primitive
    * (atomic on HDFS), the process lock serializes same-JVM racers.
    * With `expectedBase`, the claim must be its immediate successor —
    * a gap means a rival committed (manifest landed) or is mid-commit
    * (claim pending), and the caller's snapshot read is stale either
    * way; the claim is not taken and [[ConcurrentCommitException]]
    * propagates.
    */
  private def claimNext(f: org.apache.hadoop.fs.FileSystem, table: String,
                        expectedBase: Option[Long]): Long = {
    val lock = claimLocks.computeIfAbsent(
      hp(table).toString, _ => new Object)
    lock.synchronized {
      // next must clear every artifact class: committed manifests, live
      // or dead claims, and orphan data dirs a crashed writer left —
      // colliding with any would corrupt or fail the write
      val metaMax = metaNames(f, table).collect {
        case ManifestRe(n) => n.toLong
        case ClaimRe(n) => n.toLong
      }.foldLeft(0L)(math.max)
      val dataMax =
        if (!f.exists(hp(table))) 0L
        else f.listStatus(hp(table)).map(_.getPath.getName)
          .collect { case n if n.startsWith("data-") =>
            scala.util.Try(n.stripPrefix("data-").takeWhile(_.isDigit).toLong)
              .getOrElse(0L)
          }.foldLeft(0L)(math.max)
      var n = math.max(metaMax, dataMax) + 1L
      expectedBase.foreach { base =>
        if (n != base + 1L) throw new ConcurrentCommitException(
          s"$table moved past v$base (next free version is v$n): " +
            "re-read the snapshot and recompute")
      }
      f.mkdirs(hp(table, MetaDir))
      var claimed = -1L
      var attempts = 0
      while (claimed < 0L) {
        attempts += 1
        require(attempts <= 50, s"could not claim a version for $table " +
          s"after $attempts attempts — runaway contention or a listing bug")
        if (claimPrimitive.tryClaim(f, hp(table, MetaDir, f"claim-$n%05d"))) {
          // residual cross-process window: a rival may have COMMITTED
          // manifest-n (and retired its claim) between our listing and
          // our create-exclusive — the claim then succeeds on a version
          // that is already taken, and proceeding would collide on the
          // data dir with an engine-level error instead of the
          // retryable signal. Detect it here: release and re-route.
          if (f.exists(hp(table, MetaDir, f"manifest-$n%05d"))) {
            claimPrimitive.release(f, hp(table, MetaDir, f"claim-$n%05d"))
            expectedBase.foreach { base =>
              throw new ConcurrentCommitException(
                s"$table: v$n committed by a rival in the residual claim " +
                  s"window while committing against base v$base — re-read " +
                  "and recompute")
            }
            n += 1L
          } else claimed = n
        } else {
          // a cross-process rival beat us to N — with expectedBase
          // that rival invalidates our base; without, just move up
          expectedBase.foreach { base =>
            throw new ConcurrentCommitException(
              s"$table: rival writer claimed v$n while committing " +
                s"against base v$base — re-read and recompute")
          }
          n += 1L
        }
      }
      claimed
    }
  }

  /** Claim the next version, run `body(n)`, and on ANY failure before
    * the manifest landed release the claim and its staged artifacts
    * (data dir, leaf, manifest tmp) before rethrowing. Without this, a
    * routine caller error after the claim — an empty batch tripping a
    * require, a data-write failure — leaves a fresh-mtime claim above
    * the current version that starves every conditional commit until
    * someone manually runs [[releaseStaleClaims]]. If `manifest-N`
    * EXISTS when the failure surfaces, nothing is touched: the commit
    * point passed (ours, or — in the acknowledged cross-process
    * residual window — a rival's whose files must survive), so the
    * artifacts may be live.
    */
  private def withClaim(f: org.apache.hadoop.fs.FileSystem, table: String,
                        expectedBase: Option[Long])(body: Long => Long): Long = {
    val n = claimNext(f, table, expectedBase)
    try body(n)
    catch {
      case e: Throwable =>
        if (!f.exists(hp(table, MetaDir, f"manifest-$n%05d"))) {
          f.delete(hp(table, f"data-$n%05d"), true)
          // all of version n's leaves: leaf-N and rewriteManifests'
          // leaf-N-i parts
          metaNames(f, table).filter(_.startsWith(f"leaf-$n%05d"))
            .foreach(l => f.delete(hp(table, MetaDir, l), false))
          f.delete(hp(table, MetaDir, f"manifest-$n%05d.tmp-$n"), false)
          claimPrimitive.release(f, hp(table, MetaDir, f"claim-$n%05d"))
        }
        throw e
    }
  }

  /** Render the per-file `col=lo..hi` stat tokens for a just-written
    * data dir: ONE aggregate over the new files regardless of column
    * count. LONG-castable columns only.
    */
  private def statTokens(spark: SparkSession, table: String, dataDir: String,
                         statsCols: Seq[String]): Map[String, Seq[String]] = {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min,
      sum, when, lit}
    if (statsCols.isEmpty) return Map.empty
    val aggs = statsCols.flatMap(c => Seq(
      min(col(c).cast("long")), max(col(c).cast("long")),
      // nulls counted on the CAST column: a lossy-cast value acts as
      // null everywhere envelopes are consulted, so it must count here
      sum(when(col(c).cast("long").isNull, lit(1L)).otherwise(lit(0L)))))
    spark.read.parquet(s"$table/$dataDir")
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val name = r.getString(0).split("/").takeRight(1).head
        val envs = statsCols.zipWithIndex.flatMap { case (c, i) =>
          val nulls = s"$NullsPrefix$c=${r.getLong(3 + 3 * i)}..${r.getLong(3 + 3 * i)}"
          // all-null column in this file: no envelope token
          if (r.isNullAt(1 + 3 * i)) Seq(nulls)
          else Seq(s"$c=${r.getLong(1 + 3 * i)}..${r.getLong(2 + 3 * i)}", nulls)
        }
        name -> envs
      }.toMap
  }

  /** A parquet file's row count and, for the requested INTEGER columns,
    * its [min, max] envelope — all from the FOOTER: a driver-side
    * metadata read, no data pages touched and NO Spark job. The row
    * count keeps zero-row files (the schema-only artifact of an empty
    * frame) out of manifests; the envelopes replace a whole-file
    * aggregate job for the common case (integer scope/stats columns).
    * A column is omitted when any row group lacks valid statistics or
    * holds only nulls there — the same "no envelope = never pruned"
    * conservatism as the aggregate path.
    */
  private def footerStats(spark: SparkSession, p: org.apache.hadoop.fs.Path,
                          cols: Seq[String])
      : (Long, Map[String, (Long, Long)], Map[String, Long]) = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      p, spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val chunksOf = cols.map { c =>
        c -> blocks.map(_.getColumns.asScala.find(_.getPath.toDotString == c))
      }.toMap
      val stats = cols.flatMap { c =>
        val chunks = chunksOf(c)
        if (chunks.exists(_.isEmpty)) None
        else {
          val ss = chunks.flatten.map(_.getStatistics)
          if (ss.exists(s => s == null || s.isEmpty)) None
          else {
            val live = ss.filter(_.hasNonNullValue)
            if (live.isEmpty) None // all-null column in this file
            else Some(c -> (
              live.map(_.genericGetMin.asInstanceOf[Number].longValue).min,
              live.map(_.genericGetMax.asInstanceOf[Number].longValue).max))
          }
        }
      }.toMap
      // a column's exact NULL COUNT, certified only when every row
      // group's statistics carry one — see [[NullsPrefix]]
      val nulls = cols.flatMap { c =>
        val chunks = chunksOf(c)
        if (chunks.exists(_.isEmpty)) None
        else {
          val ss = chunks.flatten.map(_.getStatistics)
          if (ss.exists(s => s == null || !s.isNumNullsSet)) None
          else Some(c -> ss.map(_.getNumNulls).sum)
        }
      }.toMap
      (rows, stats, nulls)
    } finally r.close()
  }

  /** Can `statsCols` envelopes be read straight off parquet footers for
    * this schema? True only when every stats column is a plain integer
    * type — where the footer's physical int32/int64 min/max EQUALS the
    * cast-to-long the aggregate path computes. Anything else (decimal
    * unscaled ints, timestamps, strings) falls back to the aggregate.
    */
  private def footerResolvable(schema: org.apache.spark.sql.types.StructType,
                               statsCols: Seq[String]): Boolean = {
    import org.apache.spark.sql.types._
    statsCols.forall { c =>
      schema.fields.find(_.name.equalsIgnoreCase(c)).exists(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
    }
  }

  /** Write `df` as version `n`'s data dir and return its manifest
    * lines (with stat tokens when `statsCols` given). The dir is
    * exclusively ours: `n` is claimed. Zero-row files are excluded —
    * an all-empty write returns NO lines, which the callers' non-empty
    * requires turn into a loud error (and [[withClaim]] into a clean
    * one). Stats come from the footers already being opened for the
    * row counts when the columns are integer-typed (zero extra jobs —
    * the commit's only Spark job is the data write itself); otherwise
    * from one aggregate over the new files.
    */
  private def writeData(spark: SparkSession, table: String, n: Long,
                        df: DataFrame, statsCols: Seq[String]): Seq[String] = {
    require(!statsCols.contains(RowsCol), s"$RowsCol is a reserved stats token")
    require(!statsCols.exists(_.startsWith(NullsPrefix)),
      s"$NullsPrefix* are reserved stats tokens")
    val dataDir = f"data-$n%05d"
    df.write.parquet(s"$table/$dataDir")
    val f = fs(spark, table)
    val useFooter = footerResolvable(df.schema, statsCols)
    val perFile = f.listStatus(hp(table, dataDir))
      .filter(s => s.getPath.getName.endsWith(".parquet"))
      .map { s =>
        val (rows, fstats, fnulls) =
          footerStats(spark, s.getPath, if (useFooter) statsCols else Nil)
        (s"$dataDir/${s.getPath.getName}", rows, fstats, fnulls)
      }
      .filter(_._2 > 0L).sortBy(_._1).toSeq
    if (perFile.isEmpty) return Nil
    val aggStats =
      if (useFooter || statsCols.isEmpty) Map.empty[String, Seq[String]]
      else statTokens(spark, table, dataDir, statsCols)
    perFile.map { case (rel, rows, fstats, fnulls) =>
      val toks =
        if (useFooter) statsCols.flatMap(c =>
          fstats.get(c).map { case (lo, hi) => s"$c=$lo..$hi" }.toSeq ++
            fnulls.get(c).map(k => s"$NullsPrefix$c=$k..$k"))
        else aggStats.getOrElse(rel.split("/").last, Nil)
      // every file records its exact row count (free: the footer is
      // already open) as a degenerate envelope — [[rowCount]] then
      // answers count(*) from the MANIFEST, no scan
      (rel +: (toks :+ s"$RowsCol=$rows..$rows")).mkString("\t")
    }
  }

  /** EXACT `count(*)` from the manifest alone — O(manifest lines), no
    * data file opened: every file committed since the row-count token
    * landed carries its footer row count as a `__rows` envelope. None
    * when the count cannot be certified from metadata: some entry
    * pre-dates the token, or live equality deletes make file counts an
    * overestimate (callers fall back to `read(...).count()`). At
    * 100 TB this is the difference between a driver-side manifest read
    * and a full-table scan for the most common query there is.
    */
  def rowCount(spark: SparkSession, table: String,
               version: Long = 0L): Option[Long] = {
    val v = resolve(spark, table, version)
    val f = fs(spark, table)
    val hasDeletes = topLines(f, table, v).exists(_.isInstanceOf[DeleteLine])
    if (hasDeletes) return None
    val counts = snapshotEntries(spark, table, v).map(_.stats.get(RowsCol))
    if (counts.exists(_.isEmpty)) None
    else Some(counts.flatten.map(_._1).sum)
  }

  private def schemaLine(schema: org.apache.spark.sql.types.StructType): String =
    SchemaHeader + schema.json

  /** The wider of two primitive types when parquet files written under
    * the NARROWER read losslessly under the WIDER (Spark's parquet
    * type-widening support, SPARK-40876: integral upcasts, float →
    * double, sub-long integrals → double). None = not widenable —
    * long → double is deliberately excluded (lossy above 2^53), as is
    * anything non-numeric.
    */
  private def widerOf(a: org.apache.spark.sql.types.DataType,
                      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    val intRank = Map[DataType, Int](
      ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    if (a == b) Some(a)
    else (intRank.get(a), intRank.get(b)) match {
      case (Some(ra), Some(rb)) => Some(if (ra >= rb) a else b)
      case _ => (a, b) match {
        case (FloatType, DoubleType) | (DoubleType, FloatType) =>
          Some(DoubleType)
        case (i, DoubleType) if intRank.get(i).exists(_ <= 3) => Some(DoubleType)
        case (DoubleType, i) if intRank.get(i).exists(_ <= 3) => Some(DoubleType)
        case (i, FloatType) if intRank.get(i).exists(_ <= 3) => Some(DoubleType)
        case (FloatType, i) if intRank.get(i).exists(_ <= 3) => Some(DoubleType)
        case _ => None
      }
    }
  }

  /** Widen `prior` by `next`'s new columns (appended at the end,
    * nullable — pre-evolution files serve NULL for them); a column
    * present in both either keeps its type, WIDENS losslessly
    * ([[widerOf]]: int → long, float → double, … — the committed
    * schema becomes the wider type and ALL files, old and new, read
    * under it), or fails LOUDLY here instead of corrupting reads
    * later. Columns `next` lacks stay (its files serve NULL for
    * them). Matching is case-insensitive like Spark's resolution
    * default.
    */
  private def evolveSchema(prior: org.apache.spark.sql.types.StructType,
                           next: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val byName = next.fields.map(f => f.name.toLowerCase -> f).toMap
    val widened = prior.fields.map { pf =>
      byName.get(pf.name.toLowerCase) match {
        case Some(nf) =>
          val t = widerOf(pf.dataType, nf.dataType).getOrElse(
            throw new IllegalArgumentException(
              s"schema evolution conflict on '${nf.name}': table has " +
                s"${pf.dataType.simpleString}, incoming batch has " +
                s"${nf.dataType.simpleString} and neither widens the " +
                "other losslessly — cast the batch explicitly"))
          pf.copy(dataType = t)
        case None =>
          // a column the batch lacks now has files without it → nullable
          pf.copy(nullable = true)
      }
    }
    val priorNames = prior.fields.map(_.name.toLowerCase).toSet
    val added = next.fields
      .filterNot(nf => priorNames.contains(nf.name.toLowerCase))
      .map(_.copy(nullable = true)) // absent from every pre-evolution file
    org.apache.spark.sql.types.StructType(widened ++ added)
  }

  /** THE COMMIT POINT: stage `manifest-N.tmp-N`, rename it onto
    * `manifest-N` — a single-file rename to a destination that is
    * vacant and ours (the claim), atomic on POSIX and HDFS, so readers
    * see a complete manifest or none. The claim retires after.
    */
  private def commitManifest(f: org.apache.hadoop.fs.FileSystem,
                             table: String, n: Long,
                             lines: Seq[String], op: String): Long = {
    require(lines.exists(l => !l.startsWith("#")),
      "refusing to commit an empty snapshot (headers are not content)")
    // every manifest carries its commit wall-clock (`#ts` header) and
    // its OPERATION (`#op` header), stamped HERE so no commit path can
    // forget them: [[history]] gets timestamp + op columns,
    // [[versionAt]] time travel by timestamp, [[vacuum]] duration
    // retention, and the change-data-feed classifies versions by op —
    // all from metadata
    val stamped = (TsHeader + System.currentTimeMillis()) +:
      (OpHeader + op) +: lines
    val tmp = hp(table, MetaDir, f"manifest-$n%05d.tmp-$n")
    val out = f.create(tmp, true)
    try out.write(stamped.mkString("\n").getBytes("UTF-8")) finally out.close()
    val manifest = hp(table, MetaDir, f"manifest-$n%05d")
    // the claim makes the destination ours and vacant — except in the
    // acknowledged cross-process residual window on a plain local fs
    // (a rival committed manifest-N and retired the shared claim
    // between our listing and our create-exclusive). There POSIX
    // renameTo would OVERWRITE the rival's committed version; check
    // first and fail LOUDLY instead — ConcurrentCommitException is
    // retryable, a silently destroyed commit is not.
    if (f.exists(manifest)) throw new ConcurrentCommitException(
      s"$table: manifest-$n already exists at publish time — a rival " +
        "won the residual claim window; re-read and recompute")
    require(f.rename(tmp, manifest), s"manifest publish failed for $table v$n")
    claimPrimitive.release(f, hp(table, MetaDir, f"claim-$n%05d"))
    n
  }

  /** Commit `df` as the table's next snapshot (whole-snapshot replace).
    * Steps: claim the next version (exclusive), write data files to a
    * fresh `data-<n>` dir, then atomically publish `manifest-<n>` —
    * the commit point. Returns the committed version.
    *
    * `statsCols` (LONG-castable columns): record each file's [min,
    * max] envelope per column in the manifest — [[readPruned]] then
    * skips whole files from the MANIFEST, before any footer is opened.
    * This is the listing-level analog of parquet row-group pruning,
    * and it is what makes a clustered write pay at 100 TB: sort by the
    * column (one dim) or Z-ORDER by all of them
    * ([[Layout.zorderWrite]]) so EVERY recorded column's per-file
    * envelope is narrow — stats over an unclustered column cover the
    * full range in every file and prune nothing. Costs ONE aggregate
    * over the just-written files at commit time regardless of column
    * count.
    *
    * `expectedBase`: optimistic-concurrency guard for read-modify-write
    * callers — the commit succeeds only as version `expectedBase + 1`
    * with no rival manifest or claim in between, else
    * [[ConcurrentCommitException]] (table untouched; re-read, recompute,
    * retry — see [[merge]]).
    */
  def commit(spark: SparkSession, table: String, df: DataFrame,
             statsCols: Seq[String] = Nil,
             expectedBase: Option[Long] = None,
             ledger: Option[(String, Long)] = None,
             op: String = "replace"): Long = {
    val f = fs(spark, table)
    // sink-ledger headers survive a whole-snapshot replace: the rewrite
    // READ the rows those batch commits produced, so a post-replace
    // replay of an already-committed batch must still skip (without
    // this, compactSnapshot/merge on an append table would silently
    // re-open the duplicate window the ledger closed). `ledger` adds or
    // advances this committer's own sink entry (see [[append]]).
    val priorLedger = ledgerOf(f, table,
      expectedBase.getOrElse(currentVersion(spark, table)))
    withClaim(f, table, expectedBase) { n =>
      commitManifest(f, table, n,
        (schemaLine(df.schema) +: ledgerLines(priorLedger ++ ledger.toMap)) ++
          writeData(spark, table, n, df, statsCols), op)
    }
  }

  /** Delete data files, manifests and dead claims no snapshot within
    * `retain` versions of the current one references — the GC that
    * makes immutable commits affordable, and the sweeper for artifacts
    * crashed commits orphan (claims and manifest tmps at or below the
    * current version are dead BY PROTOCOL: their version is taken).
    * `retain = 1` keeps only the current snapshot; `retain = 2` keeps
    * one step of time travel; never touches the CURRENT snapshot's
    * files. Version-number gaps from crashed claims are fine: only
    * manifests that EXIST count as versions. Claims/tmps ABOVE the
    * current version are left alone — they may be a live writer
    * mid-commit. A data dir survives while ANY retained manifest
    * references ANY file inside it (manifests share files across
    * versions after [[mergeScoped]]).
    */
  def vacuum(spark: SparkSession, table: String, retain: Int = 1,
             retainForMs: Long = 0L,
             pinMaxAgeMs: Long = 7L * 24 * 3600 * 1000): Long = {
    require(retain >= 1, "must retain at least the current snapshot")
    val f = fs(spark, table)
    val names = metaNames(f, table)
    val versions = names.collect { case ManifestRe(n) => n.toLong }.sorted
    if (versions.isEmpty) return 0L
    val cur = versions.last
    val now = System.currentTimeMillis()
    // CONSUMER PINS extend retention below the count/duration rules:
    // the floor is the minimum LIVE pin — a pin older than pinMaxAgeMs
    // belongs to a presumed-dead consumer (live ones refresh on every
    // committed batch) and is swept here, so an abandoned checkpoint
    // cannot hold history forever
    val pinFloor = names.filter(_.startsWith(PinPrefix)).flatMap { p =>
      val path = hp(table, MetaDir, p)
      val age = now - f.getFileStatus(path).getModificationTime
      if (age > pinMaxAgeMs) { f.delete(path, false); None }
      else readPin(f, path)
    }.foldLeft(Long.MaxValue)(math.min)
    // orphan pin-rewrite tmps (a crash between create and rename):
    // dot-prefixed so they never read as pins; age-gated like pins
    names.filter(n => n.startsWith("." + PinPrefix) && n.contains(".tmp-"))
      .foreach { n =>
        val path = hp(table, MetaDir, n)
        if (now - f.getFileStatus(path).getModificationTime > pinMaxAgeMs)
          f.delete(path, false)
      }
    // duration-based retention (`retainForMs` > 0): keep every version
    // committed within the window, BY ITS #ts STAMP — a pre-#ts
    // manifest has no stamp and is older than every stamped one, so it
    // is NOT time-kept (count-based `retain` still protects it)
    val timeKept =
      if (retainForMs <= 0L) Set.empty[Long]
      else versions.filter(v => commitTimestamp(spark, table, v)
        .exists(_ >= now - retainForMs)).toSet
    // the newest `retain` manifests that actually exist — a version
    // GAP (crashed claim) must not shrink the kept set, nor may a
    // missing manifest ever be resolved (the pre-fix crash: vacuum
    // walked a dense version range and threw on the gap)
    val keepVersions = versions.takeRight(retain).toSet ++ timeKept ++
      versions.filter(_ >= pinFloor)
    // referenced = data files AND equality-delete key files — a delete
    // file's data dir may hold nothing else, and sweeping it would
    // leave a live manifest pointing at a vanished delete
    val referenced = keepVersions.flatMap(v =>
      snapshotFiles(spark, table, v) ++
        topLines(f, table, v).collect { case dl: DeleteLine => dl.path })
    // leaf manifests referenced by any retained top manifest survive;
    // the rest (superseded versions' leaves, crashed appends' orphans)
    // are dead ONLY at or below the current version — above it they
    // may belong to a live writer mid-commit
    val referencedLeaves = keepVersions.flatMap(v =>
      topLines(f, table, v).collect { case il: IncludeLine => il.leaf })
    var removed = 0L
    // sweep data dirs not referenced by any retained manifest — but
    // ONLY at or below the current version: data-N above cur is a live
    // writer's stage mid-commit (its manifest hasn't landed yet), and
    // deleting it would let that writer publish a manifest referencing
    // vanished files. Above-current orphans whose writer is truly dead
    // are [[releaseStaleClaims]]'s job, which has the age threshold
    // this sweep lacks.
    f.listStatus(hp(table)).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("data-")).foreach { d =>
        val dv = scala.util.Try(
          d.stripPrefix("data-").takeWhile(_.isDigit).toLong).getOrElse(Long.MaxValue)
        val keep = dv > cur || referenced.exists(_.startsWith(s"$d/"))
        if (!keep) { f.delete(hp(table, d), true); removed += 1 }
      }
    // manifests outside the retention set; dead claims and manifest
    // tmps (≤ current version: superseded, their writer is gone);
    // legacy HEAD artifacts from the pre-manifest-commit protocol
    names.foreach { m =>
      val dead = m match {
        case ManifestRe(n) => !keepVersions.contains(n.toLong)
        case ClaimRe(n) => n.toLong <= cur
        case LeafRe(n) =>
          n.toLong <= cur && !referencedLeaves.contains(m)
        case _ if m.startsWith("HEAD") => true
        case _ if m.contains(".tmp-") =>
          "manifest-([0-9]{5})\\.tmp-.*".r.findFirstMatchIn(m)
            .exists(_.group(1).toLong <= cur)
        case _ => false
      }
      if (dead) { f.delete(hp(table, MetaDir, m), false); removed += 1 }
    }
    removed
  }

  /** Read only the files whose committed envelopes intersect EVERY
    * given `(column, lo, hi)` range — conjunctive file skipping decided
    * from the MANIFEST alone, before any data file or footer is opened.
    * A file without an envelope for some predicate column is
    * conservatively kept. The returned frame still carries the residual
    * row filters: envelopes bound files, they do not filter rows. With
    * a Z-ordered write and stats on every clustered dim, a box query
    * prunes on ALL dims at once — the manifest-resolution payoff of
    * [[Layout.zorderWrite]]'s per-file hyper-rectangles.
    */
  def readPruned(spark: SparkSession, table: String,
                 preds: Seq[(String, Long, Long)],
                 version: Long = 0L): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(preds.nonEmpty, "readPruned needs at least one range predicate")
    val v = resolve(spark, table, version)
    val f = fs(spark, table)
    def intersects(stats: Map[String, (Long, Long)]): Boolean =
      preds.forall { case (c, lo, hi) =>
        stats.get(c).forall { case (flo, fhi) => flo <= hi && fhi >= lo }
      }
    // two-level skipping: a leaf whose AGGREGATE envelope misses the
    // box is skipped WITHOUT being opened (the manifest-list payoff);
    // surviving leaves expand and prune per file as before
    val keep = topLines(f, table, v).flatMap {
      case il: IncludeLine if !intersects(il.stats) => Nil
      case il: IncludeLine => leafEntries(f, table, il.leaf)
      case EntryLine(e) => Seq(e)
      case _: DeleteLine => Nil // applied below, never scanned as data
    }.filter(e => intersects(e.stats))
    def residual(df: DataFrame): DataFrame =
      preds.foldLeft(df) { case (d, (c, lo, hi)) =>
        d.filter(col(c).cast("long").between(lo, hi))
      }
    if (keep.isEmpty) // empty relation WITH the right schema
      return residual(read(spark, table, version)).limit(0)
    residual(applyDeletes(spark, table, v,
      spark.read.parquet(keep.map(e => s"$table/${e.path}"): _*)))
  }

  /** Single-column convenience overload of [[readPruned]]. */
  def readPruned(spark: SparkSession, table: String, statsCol: String,
                 lo: Long, hi: Long): DataFrame =
    readPruned(spark, table, Seq((statsCol, lo, hi)))

  /** SQL MERGE into a snapshot table: [[Layout.merged]] over the
    * current snapshot, committed as the next version — the upsert with
    * ATOMIC reader visibility that [[Layout.mergeDatePartitioned]]'s
    * rename swap cannot give (there a cross-partition reader can see a
    * mixed version mid-merge; here it sees the whole pre-merge or the
    * whole post-merge snapshot). CONCURRENCY-SAFE: the commit is
    * conditional on the base version the merge read — a rival landing
    * in between triggers a re-read + recompute (bounded retries), so
    * two mergers racing both apply, neither lost. Whole-snapshot
    * rewrite per merge is the honest price of the minimal form;
    * [[mergeScoped]] is the file-scoped scale path.
    */
  def merge(spark: SparkSession, table: String, changes: DataFrame,
            keys: Seq[String], deleteCol: Option[String] = None,
            matchedCond: Option[org.apache.spark.sql.Column] = None,
            ledger: Option[(String, Long)] = None): Long =
    retryingCommit(spark, table) { base =>
      // sink replays skip at VERSION level, like append: the batch's
      // rows and its ledger entry committed atomically last time, so a
      // replay must mint no version (not even a byte-identical one)
      val replayed = ledger.exists { case (sinkId, batchId) =>
        ledgerOf(fs(spark, table), table, base).get(sinkId).exists(_ >= batchId)
      }
      if (replayed) base
      else {
        val out = Layout.merged(read(spark, table, base), changes, keys,
          deleteCol, matchedCond)
        commit(spark, table, out, expectedBase = Some(base), ledger = ledger,
          op = "merge")
      }
    }

  /** The stat columns a rewrite carries FORWARD: the table's
    * committed stat columns, restricted to the ones the outgoing
    * frame still has with a long-castable type.
    */
  private[sources] def carriedStatsCols(spark: SparkSession, table: String,
      outSchema: org.apache.spark.sql.types.StructType): Seq[String] =
    statsColsOf(spark, table).filter { c =>
      outSchema.fields.exists(f => f.name.equalsIgnoreCase(c) &&
        org.apache.spark.sql.catalyst.expressions.Cast
          .canCast(f.dataType, org.apache.spark.sql.types.LongType))
    }

  /** FILE-SCOPED MERGE — the manifest-sharing scale path (the Iceberg
    * posture: rewrite touched files, carry the rest forward): apply
    * `changes` to only the data files whose committed `scopeCol`
    * envelope INTERSECTS a changed scope value; every other manifest
    * line enters the next manifest VERBATIM, pointing at its existing
    * (old-version) data file. At 100 TB a change set touching one day
    * of a date-scoped table rewrites that day's files, not the table.
    *
    * Requirements and behavior:
    *  - the table must have committed `scopeCol` envelopes (commit with
    *    `statsCols` including it) — a file without one is conservatively
    *    treated as touched;
    *  - `scopeCol` values in `changes` must be non-null and LONG-castable
    *    (envelopes are integer ranges);
    *  - `scopeCol` must be key-stable in the same sense as
    *    [[Layout.mergeDatePartitioned]]: a change row only merges
    *    against target rows within envelopes covering ITS scope value —
    *    a key whose scope value moved would insert a duplicate; use
    *    [[merge]] for cross-scope key moves;
    *  - inserts with NEW scope values (no envelope covers them) simply
    *    land in the new files;
    *  - the new files are range-clustered on `scopeCol` so their
    *    envelopes stay narrow for the NEXT scoped merge, and carry
    *    stats for `statsCols` (must include `scopeCol`; defaults to it);
    *  - concurrency-safe like [[merge]]: conditional commit + re-read
    *    retry.
    *
    * @return the committed version
    */
  def mergeScoped(spark: SparkSession, table: String, changes: DataFrame,
                  keys: Seq[String], scopeCol: String,
                  deleteCol: Option[String] = None,
                  statsCols: Seq[String] = Nil,
                  matchedCond: Option[org.apache.spark.sql.Column] = None,
                  ledger: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions.col
    val stats = if (statsCols.isEmpty) Seq(scopeCol) else statsCols
    require(stats.contains(scopeCol),
      s"statsCols must include the scope column $scopeCol — without its " +
        "envelope the NEXT scoped merge cannot skip the files this one writes")
    val scopeVals = changes.select(col(scopeCol).cast("long"))
      .distinct().collect().map { r =>
        require(!r.isNullAt(0),
          s"mergeScoped: null or non-LONG-castable $scopeCol in changes — " +
            "scope values must resolve to integer envelope points")
        r.getLong(0)
      }.sorted
    retryingCommit(spark, table) { base =>
      // version-level replay skip, as in [[merge]]/[[append]]
      val replayed = ledger.exists { case (sinkId, batchId) =>
        ledgerOf(fs(spark, table), table, base).get(sinkId).exists(_ >= batchId)
      }
      if (replayed) return base
      def envUntouched(stats: Map[String, (Long, Long)]): Boolean =
        stats.get(scopeCol).exists { case (lo, hi) =>
          !scopeVals.exists(v => v >= lo && v <= hi)
        }
      // a leaf whose AGGREGATE envelope excludes every changed scope
      // value carries as one @include line, unopened; everything else
      // resolves to entries and partitions per file
      val (carried, touched) = splitForRewrite(fs(spark, table), table, base,
        envUntouched, e => !envUntouched(e.stats))
      // the touched slice is read DELETE-AWARE: its rewrite lands at a
      // higher sequence number, out of every delete's reach, so a row
      // an equality delete removed must not ride the rewrite back in
      val target =
        if (touched.isEmpty) read(spark, table, base).limit(0)
        else applyDeletes(spark, table, base, readPaths(spark, table, base,
          touched.map(e => s"$table/${e.path}")))
      // RANGE-cluster the new files on the scope so each file covers a
      // CONTIGUOUS scope interval (hash partitioning mixes distant
      // scope values into one partition — e.g. days {0,3} in one file
      // give it envelope [0,3], which a later day-1 merge must treat
      // as touched). Range partitioning SAMPLES its child, which would
      // execute the whole merge join twice — so the merged relation is
      // persisted first: the sampling pass fills the cache, the write
      // reads it back, the join runs once.
      val merged0 = Layout.merged(target, changes, keys, deleteCol, matchedCond)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val out = merged0
          .repartitionByRange(math.max(1, scopeVals.length), col(scopeCol))
          .sortWithinPartitions(scopeCol)
        val f = fs(spark, table)
        withClaim(f, table, Some(base)) { n =>
          val newLines = writeData(spark, table, n, out, stats)
          val schema = snapshotSchema(spark, table, base).getOrElse(out.schema)
          val headers = schemaLine(schema) +:
            ledgerLines(ledgerOf(f, table, base) ++ ledger.toMap)
          commitManifest(f, table, n, headers ++ (carried ++ newLines), "merge")
        }
      } finally merged0.unpersist(false)
    }
  }

  /** RANGE DELETE — the retention / compliance shape (`DELETE WHERE
    * lo <= col <= hi`, e.g. "drop everything older than the cutoff"),
    * priced by the MANIFEST, not the table:
    *
    *  - a file whose committed `col` envelope lies ENTIRELY inside the
    *    range is dropped from the manifest — a METADATA-ONLY delete
    *    (the bytes go at the next vacuum). A leaf whose AGGREGATE
    *    envelope is inside drops as one line, unopened. On a
    *    time-clustered table (every append/compaction clusters on its
    *    scope) this is the whole answer: dropping 30 of 3000 days
    *    rewrites nothing and touches ~1% of the manifest lines;
    *  - a BOUNDARY file (envelope straddles a range edge) is rewritten
    *    with the complement filter, delete-aware, re-clustered on
    *    `col` with fresh envelopes;
    *  - a file with no `col` envelope is conservatively a boundary
    *    file;
    *  - everything else carries by reference, byte-for-byte.
    *
    * Returns the committed version, or 0 with NO commit when the range
    * provably misses every file (maintenance must not mint versions).
    * Concurrency-safe like every commit here (conditional + retry).
    * Contrast [[deleteWhere]] (merge-on-read for SCATTERED keys) —
    * this op is for CONTIGUOUS ranges of a clustered column, where
    * whole files die and nothing needs deferring.
    */
  def deleteRange(spark: SparkSession, table: String, col: String,
                  lo: Long, hi: Long, statsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{col => c}
    require(lo <= hi, s"empty range: $lo..$hi")
    val stats = if (statsCols.isEmpty) Seq(col) else statsCols
    require(stats.contains(col),
      s"statsCols must include $col — without its envelope the NEXT " +
        "range delete cannot skip the boundary files this one rewrites")
    retryingCommit(spark, table) { base =>
      // a METADATA-ONLY drop (file dies whole, no rewrite) needs two
      // certificates: the non-null envelope inside the range AND a
      // certified ZERO null count ([[NullsPrefix]]) — envelopes ignore
      // nulls, and null rows do not satisfy `BETWEEN`, so they must
      // SURVIVE a range delete; a file (or folded leaf) without the
      // null token is conservatively rewritten instead
      def noNulls(s: Map[String, (Long, Long)]): Boolean =
        s.get(NullsPrefix + col).exists(_._2 == 0L)
      def inside(s: Map[String, (Long, Long)]): Boolean =
        s.get(col).exists { case (flo, fhi) => flo >= lo && fhi <= hi } &&
          noNulls(s)
      // disjoint needs no null certificate: carrying a file verbatim
      // keeps its null rows, which is exactly what DELETE semantics
      // require of them. A certified ALL-NULL file (null count equals
      // the row count) is disjoint from EVERY range — without this, an
      // envelope-less all-null file would be classified boundary and
      // byte-identically rewritten on every range delete, forever.
      // On a FOLDED leaf the tokens are [min,max] AGGREGATES over its
      // files, and the only sound all-null certificate at that
      // granularity is min(nulls) >= max(rows): nulls_i <= rows_i per
      // file, so it forces nulls_i == rows_i for EVERY folded file. A
      // weaker envelope comparison (the pre-fix bug) let a leaf folding
      // an all-null file (5/5) with a mixed file (5 nulls of 7 rows)
      // certify — rows=[5,7], nulls=[5,5] passed — and the mixed file's
      // in-range rows silently survived the DELETE. A mixed-leaf miss
      // here is merely conservative: the leaf opens and its files
      // certify individually (per-file tokens are degenerate k..k, for
      // which min(nulls) >= max(rows) IS nulls == rows).
      def disjoint(s: Map[String, (Long, Long)]): Boolean =
        s.get(col).exists { case (flo, fhi) => fhi < lo || flo > hi } ||
          (for { n <- s.get(NullsPrefix + col); r <- s.get(RowsCol) }
            yield n._1 >= r._2).getOrElse(false)
      val f = fs(spark, table)
      val carried = Seq.newBuilder[String]
      val boundary = Seq.newBuilder[ManifestEntry]
      var dropped = 0
      topLines(f, table, base).foreach {
        case il: IncludeLine if inside(il.stats) => dropped += 1
        case il: IncludeLine if disjoint(il.stats) => carried += il.raw
        case il: IncludeLine =>
          leafEntries(f, table, il.leaf).foreach { e =>
            if (inside(e.stats)) dropped += 1
            else if (disjoint(e.stats)) carried += e.render
            else boundary += e
          }
        case el: EntryLine =>
          if (inside(el.entry.stats)) dropped += 1
          else if (disjoint(el.entry.stats)) carried += el.entry.render
          else boundary += el.entry
        case dl: DeleteLine => carried += dl.raw
      }
      val edges = boundary.result()
      if (dropped == 0 && edges.isEmpty) return 0L // provably a no-op
      // the #range header records the commit's complete logical
      // change, letting the change feed emit ONE range-retraction
      // event instead of refusing ([[commitRange]])
      val headersOf = (schema: org.apache.spark.sql.types.StructType) =>
        schemaLine(schema) +: (RangeHeader + s"$col\t$lo\t$hi") +:
          ledgerLines(ledgerOf(f, table, base))
      val schema = snapshotSchema(spark, table, base)
      if (edges.isEmpty) {
        // the pure retention case: no boundary files — the commit is
        // ONE manifest write, zero data jobs, any table size
        return withClaim(f, table, Some(base)) { n =>
          commitManifest(f, table, n,
            headersOf(schema.getOrElse(read(spark, table, base).schema)) ++
              carried.result(), "deleteRange")
        }
      }
      // survivors = rows NOT in the range, under SQL DELETE semantics: a
      // NULL (or non-castable) range value does not satisfy `BETWEEN`,
      // so the row SURVIVES — a bare `!between` would evaluate to NULL
      // and silently drop every null-valued row in a boundary file (and
      // an all-null file, having no envelope, is classified boundary on
      // EVERY range delete — it would drain to nothing)
      val survivors = applyDeletes(spark, table, base,
        readPaths(spark, table, base, edges.map(e => s"$table/${e.path}")))
        .filter(c(col).cast("long").isNull ||
          !c(col).cast("long").between(lo, hi))
      withClaim(f, table, Some(base)) { n =>
        val newLines = writeData(spark, table, n,
          survivors.repartitionByRange(math.max(1, edges.size), c(col))
            .sortWithinPartitions(col),
          stats)
        commitManifest(f, table, n,
          headersOf(schema.getOrElse(survivors.schema)) ++
            (carried.result() ++ newLines), "deleteRange")
      }
    }
  }

  /** MANIFEST MAINTENANCE: fold runs of `groupSize` consecutive
    * top-manifest data lines into merged LEAF manifests — a pure
    * metadata commit (no data file read, written, or re-referenced:
    * the file set is byte-identical before and after, so incremental
    * consumers see an empty diff). The top manifest of a long-lived
    * append table grows one include line per append FOREVER without
    * this; folding bounds it at ~lines/groupSize while keeping leaf
    * aggregate envelopes NARROW (consecutive appends are
    * envelope-adjacent on time-clustered tables, so merged leaves
    * still skip as single lines). Merged includes carry `__minv` (the
    * minimum folded data version) because the delete-drop rule needs
    * it — a merged leaf's NAME version says nothing about its
    * contents' age. Delete lines and headers carry verbatim. Returns
    * the committed version, or 0 with NO commit when no group has
    * more than one line to fold.
    */
  def rewriteManifests(spark: SparkSession, table: String,
                       groupSize: Int = 64): Long = {
    require(groupSize >= 2, "folding needs groups of at least 2")
    retryingCommit(spark, table) { base =>
      val f = fs(spark, table)
      val lines = topLines(f, table, base)
      val deletes = lines.collect { case dl: DeleteLine => dl.raw }
      val dataLines = lines.filterNot(_.isInstanceOf[DeleteLine])
      if (dataLines.size <= 1 ||
          dataLines.grouped(groupSize).forall(_.size <= 1)) return 0L
      val headers = snapshotSchema(spark, table, base).map(schemaLine).toSeq ++
        ledgerLines(ledgerOf(f, table, base))
      withClaim(f, table, Some(base)) { n =>
        var leafIdx = 0
        val folded = dataLines.grouped(groupSize).map { g =>
          if (g.size == 1) g.head.raw // a lone tail line folds nothing
          else {
            val entries = g.flatMap {
              case EntryLine(e) => Seq(e)
              case il: IncludeLine => leafEntries(f, table, il.leaf)
              case _: DeleteLine => Nil // filtered above; exhaustiveness
            }
            leafIdx += 1
            writeLeaf(f, table, f"leaf-$n%05d-$leafIdx",
              entries.map(_.render))
          }
        }.toSeq
        commitManifest(f, table, n, headers ++ folded ++ deletes, "rewriteManifests")
      }
    }
  }

  /** Release claims ABOVE the current version whose writer is presumed
    * dead — the one starvation case the conditional-commit protocol
    * has: a writer that claimed `current + 1` and crashed before its
    * manifest blocks every conditional commit (each retry claims a
    * higher number, which can never be the immediate successor).
    * [[vacuum]] cannot sweep these (a claim above current may be a
    * LIVE writer mid-commit), so the maintenance call takes an age
    * threshold: claims older than `olderThanMs` with no manifest are
    * released, along with their orphan data dir if any. Pick a
    * threshold comfortably above your longest commit (data write +
    * stats aggregate). Returns the number of claims released.
    */
  def releaseStaleClaims(spark: SparkSession, table: String,
                         olderThanMs: Long): Long = {
    val f = fs(spark, table)
    val cur = currentVersion(spark, table)
    val manifests = metaNames(f, table)
      .collect { case ManifestRe(n) => n.toLong }.toSet
    var released = 0L
    metaNames(f, table).foreach {
      case c @ ClaimRe(nStr) =>
        val n = nStr.toLong
        val p = hp(table, MetaDir, c)
        val age = System.currentTimeMillis() - f.getFileStatus(p).getModificationTime
        if (n > cur && !manifests.contains(n) && age > olderThanMs) {
          f.delete(p, false)
          f.delete(hp(table, f"data-$n%05d"), true) // orphan stage, if any
          metaNames(f, table).filter(_.startsWith(f"leaf-$n%05d")) // orphan leaves
            .foreach(l => f.delete(hp(table, MetaDir, l), false))
          released += 1
        }
      case _ =>
    }
    released
  }

  /** The optimistic-concurrency loop [[merge]]/[[mergeScoped]] share:
    * run `attempt` against the current base; on
    * [[ConcurrentCommitException]] re-read and retry (a rival landed —
    * progress was made SOMEWHERE, so bounded patience suffices).
    */
  private def retryingCommit(spark: SparkSession, table: String)
                            (attempt: Long => Long): Long = {
    var tries = 0
    while (true) {
      tries += 1
      val base = currentVersion(spark, table)
      try return attempt(base)
      catch {
        case e: ConcurrentCommitException =>
          if (tries >= 10) throw new ConcurrentCommitException(
            s"$table: lost the commit race $tries times — a crashed " +
              s"writer's claim above the current version may be " +
              s"blocking conditional commits; releaseStaleClaims(...) " +
              s"clears it. Last: ${e.getMessage}")
          // linear backoff (~8 s total patience): the rival whose claim
          // beat us may still be WRITING its data — a commit can
          // legitimately take seconds — so give it time to land its
          // manifest and the re-read a NEW base, instead of burning the
          // retry budget spinning on the old one
          Thread.sleep(150L * tries)
      }
    }
    -1L // unreachable
  }

  /** FAST APPEND — the ingest commit: write `df` as new files and
    * publish a manifest that is the previous manifest PLUS the new
    * lines. Nothing is read, nothing is rewritten — the commit cost is
    * the new bytes (plus one stats aggregate over them when
    * `statsCols` given), regardless of table size; this is how a
    * streaming ingest lands millions of rows a minute into a 100 TB
    * table. Appends are linearized by the same claim + conditional
    * manifest-union (a rival landing between read and claim triggers
    * the internal re-read-and-retry — cheap: only the line list is
    * recomputed, the data files are already written... see note).
    * Appended rows are NEW rows: this op neither detects nor resolves
    * key collisions — upserts are [[merge]]/[[mergeScoped]]'s job, and
    * repeated appends of hot scopes fragment them, which
    * [[compactScoped]] repairs. Works on an empty table (becomes v1).
    *
    * Note on retry cost: the data dir is claimed per attempt, so a
    * lost race re-writes the data under the next version; the orphan
    * is vacuumed. Contention on appends is rare enough (sub-second
    * claim windows) that this simple form beats a write-once-
    * link-many protocol in everything but pathological fan-in.
    *
    * `ledger = Some((sinkId, batchId))` makes the append EXACTLY-ONCE
    * under foreachBatch replay: the manifest records, per sink
    * identity, the highest batchId that committed (`#ledger` header),
    * and an append whose batchId is at or below the recorded one is a
    * NO-OP returning the current version — the batch's rows and its
    * ledger entry become visible in the SAME atomic manifest rename,
    * so a crash between the table commit and the sink's checkpoint
    * write replays into the skip branch instead of landing twice.
    * batchIds must be monotone per sinkId (Structured Streaming's
    * contract); the sinkId must not contain tabs or newlines (it lives
    * on one header line) — use the checkpoint path.
    */
  def append(spark: SparkSession, table: String, df: DataFrame,
             statsCols: Seq[String] = Nil,
             ledger: Option[(String, Long)] = None): Long = {
    ledger.foreach { case (sinkId, _) =>
      require(!sinkId.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"sinkId must be tab/newline-free (one ledger header line): $sinkId")
    }
    retryingCommit(spark, table) { base =>
      val f = fs(spark, table)
      val priorLedger = ledgerOf(f, table, base)
      val replayed = ledger.exists { case (sinkId, batchId) =>
        priorLedger.get(sinkId).exists(_ >= batchId)
      }
      if (replayed) base // the batch already committed — replay is a no-op
      else {
        // prior TOP lines carry verbatim — an earlier append's @include
        // stays one line here no matter how many files its leaf holds,
        // so the top manifest grows with APPENDS, not data files
        val prior =
          if (base == 0L) Seq.empty[String]
          else topLines(f, table, base).map(_.raw)
        // SCHEMA EVOLUTION happens here, explicitly: new columns widen
        // the committed schema (older files serve NULL), same-name
        // columns must keep their type — the drift a plain directory
        // resolves by footer lottery is a loud, versioned schema change
        val schema =
          if (base == 0L) df.schema
          else snapshotSchema(spark, table, base)
            .map(evolveSchema(_, df.schema)).getOrElse(df.schema)
        withClaim(f, table, Some(base)) { n =>
          val newLines = writeData(spark, table, n, df, statsCols)
          require(newLines.nonEmpty, "refusing to append an empty batch")
          // the batch's files land as ONE immutable leaf + one include
          // line carrying the leaf's aggregate envelopes — scoped merges
          // and pruned reads skip the whole batch without opening it
          val include = writeLeaf(f, table, f"leaf-$n%05d", newLines)
          val headers = schemaLine(schema) +:
            ledgerLines(priorLedger ++ ledger.toMap)
          commitManifest(f, table, n, headers ++ (prior :+ include), "append")
        }
      }
    }
  }

  /** INCREMENTAL CONSUMPTION: the rows of files ADDED between two
    * snapshots (`fromVersion` exclusive → `toVersion` inclusive,
    * default: current) — the manifest DIFF, resolved without reading
    * a byte of data from unchanged files. Because manifests share
    * files across versions ([[mergeScoped]] carries untouched lines
    * verbatim), the diff is exactly the appended-or-rewritten slices:
    *  - append-only tables: exact new-row CDC;
    *  - scoped merges: the touched scopes' post-merge rows (a
    *    downstream sync re-lands those scopes — idempotent by scope,
    *    the MERGE-ON-READ consumer pattern);
    *  - whole-snapshot commits: the whole new snapshot (every file is
    *    new — honest, since everything was rewritten).
    * Versions must still be retained ([[vacuum]]): reading a diff
    * needs both manifests. Returns an empty frame (right schema) when
    * nothing was added.
    */
  def readAdded(spark: SparkSession, table: String, fromVersion: Long,
                toVersion: Long = 0L): DataFrame = {
    val to = if (toVersion > 0L) toVersion else currentVersion(spark, table)
    require(fromVersion >= 1L && fromVersion <= to,
      s"readAdded needs 1 <= fromVersion <= toVersion (got $fromVersion..$to)")
    val before = snapshotFiles(spark, table, fromVersion).toSet
    val added = snapshotFiles(spark, table, to).filterNot(before)
    if (added.isEmpty) return read(spark, table, to).limit(0)
    // delete-aware like read: a consumer of the diff must not see rows
    // an equality delete (committed before `to`) already removed
    applyDeletes(spark, table, to,
      readPaths(spark, table, to, added.map(rel => s"$table/$rel")))
  }

  /** SCOPE-AWARE COMPACTION — the maintenance op a [[mergeScoped]]
    * table needs: repeated scoped merges accumulate small files inside
    * the hot scopes while cold scopes stay perfectly laid out, and
    * [[compactSnapshot]]'s whole-table rewrite throws the cold layout
    * away to fix the hot one. This rewrites ONLY scope ranges whose
    * file count exceeds `maxFilesPerScope`, carrying every other
    * manifest line forward by reference — mergeScoped's machinery
    * pointed at fragmentation instead of changes. Files without a
    * `scopeCol` envelope are conservatively rewritten. Commits one new
    * version (concurrency-safe conditional commit with retry);
    * returns it, or 0 with NO commit when nothing is fragmented —
    * maintenance must not mint empty versions.
    */
  def compactScoped(spark: SparkSession, table: String, scopeCol: String,
                    maxFilesPerScope: Int = 4,
                    statsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    require(maxFilesPerScope >= 1, "a scope needs at least one file")
    val stats = if (statsCols.isEmpty) Seq(scopeCol) else statsCols
    require(stats.contains(scopeCol), s"statsCols must include $scopeCol")
    retryingCommit(spark, table) { base =>
      val entries = snapshotEntries(spark, table, base)
      // fragmentation is judged per scope VALUE: a value covered by
      // more than maxFilesPerScope file envelopes is hot, and any file
      // INTERSECTING a hot value joins the rewrite (leaving it would
      // duplicate its rows' coverage). Counted as an interval SWEEP —
      // never by enumerating envelope points, whose span is unbounded
      // for coarse scope columns (epoch-second scopes would loop 10⁹×)
      val bounds = entries.flatMap(_.stats.get(scopeCol))
      val marks = bounds
        .flatMap { case (lo, hi) => Seq((lo, 1), (hi + 1, -1)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum)
        .toSeq.sortBy(_._1)
      var cover = 0
      val hotRanges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      marks.zipWithIndex.foreach { case ((at, d), i) =>
        cover += d
        if (cover > maxFilesPerScope && i + 1 < marks.length) {
          val upTo = marks(i + 1)._1 - 1
          // merge adjacent hot segments as we go
          hotRanges.lastOption match {
            case Some((hlo, hhi)) if hhi + 1 >= at =>
              hotRanges(hotRanges.length - 1) = (hlo, math.max(hhi, upTo))
            case _ => hotRanges += ((at, upTo))
          }
        }
      }
      def hotEnv(stats: Map[String, (Long, Long)]): Boolean =
        stats.get(scopeCol) match {
          case Some((lo, hi)) =>
            hotRanges.exists { case (hlo, hhi) => lo <= hhi && hi >= hlo }
          case None => true // no envelope: fold it into the clustered rewrite
        }
      // cold leaves carry as one unopened @include line each
      val (carried0, touched) = splitForRewrite(fs(spark, table), table, base,
        stats => !hotEnv(stats), e => hotEnv(e.stats))
      if (touched.isEmpty && entries.forall(_.stats.contains(scopeCol)))
        return 0L // nothing fragmented, nothing enveloped-less: no-op
      // DELETE PURGE: the rewrite applies equality deletes (the
      // delete-aware read below) and its output carries a sequence
      // number above them — after it, a delete that no REMAINING data
      // file pre-dates has nothing left to apply to and its manifest
      // line (and, post-vacuum, its key file) is dropped. minRemaining
      // over carried lines: an entry's own data version; a leaf's
      // `__minv` token (equal to its name for append leaves, lower
      // for rewriteManifests-merged ones); plus the new files'
      // version n > every delete.
      val minRemaining = carried0.collect {
        case l if l.startsWith(IncludeTag + "\t") =>
          val toks = l.split("\t")
          includeMinVersion(IncludeLine(toks(1), parseStats(toks.drop(2).toSeq), l))
        case l if !l.startsWith(DeleteTag + "\t") =>
          dataVersionOf(l.split("\t").head)
      }.foldLeft(Long.MaxValue)(math.min)
      val carried = carried0.filterNot { l =>
        l.startsWith(DeleteTag + "\t") &&
          dataVersionOf(l.split("\t")(1)) <= minRemaining
      }
      val rows = applyDeletes(spark, table, base,
        readPaths(spark, table, base, touched.map(e => s"$table/${e.path}")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // one range partition per rewritten scope value, capped — a
        // fine-grained (id-like) scope column must not mint a file per
        // value; past the cap each file simply covers a few adjacent
        // scope values, still a narrow contiguous envelope
        val scopes = math.max(1L,
          math.min(rows.select(col(scopeCol)).distinct().count(), 1024L))
        val out = rows
          .repartitionByRange(scopes.toInt, col(scopeCol))
          .sortWithinPartitions(scopeCol)
        val f = fs(spark, table)
        withClaim(f, table, Some(base)) { n =>
          val newLines = writeData(spark, table, n, out, stats)
          val schema = snapshotSchema(spark, table, base).getOrElse(out.schema)
          val headers = schemaLine(schema) +:
            ledgerLines(ledgerOf(f, table, base))
          commitManifest(f, table, n, headers ++ (carried ++ newLines), "compact")
        }
      } finally rows.unpersist(false)
    }
  }

  /** One retained snapshot's metadata summary — resolved from manifests
    * alone (no data file opened). `rows` is [[rowCount]]'s certified
    * count (None when merge-on-read deletes or pre-token entries make
    * metadata insufficient).
    */
  case class SnapshotInfo(version: Long, files: Long, deleteFiles: Long,
                          rows: Option[Long], schemaColumns: Int,
                          sinkLedger: Map[String, Long],
                          timestampMs: Option[Long] = None,
                          op: Option[String] = None)

  /** The table's retained history, newest first — the operational
    * introspection surface (what versions exist to time-travel or
    * stream from, how fragmented each is, which sinks have committed
    * how far). Pure manifest reads: O(retained versions × lines).
    */
  def history(spark: SparkSession, table: String): Seq[SnapshotInfo] = {
    val f = fs(spark, table)
    metaNames(f, table).collect { case ManifestRe(n) => n.toLong }
      .sorted.reverse.map { v =>
        val entries = snapshotEntries(spark, table, v)
        SnapshotInfo(
          version = v,
          files = entries.size.toLong,
          deleteFiles = topLines(f, table, v)
            .count(_.isInstanceOf[DeleteLine]).toLong,
          rows = rowCount(spark, table, v),
          schemaColumns = snapshotSchema(spark, table, v)
            .map(_.fields.length).getOrElse(0),
          sinkLedger = ledgerOf(f, table, v),
          timestampMs = commitTimestamp(spark, table, v),
          op = commitOp(spark, table, v))
      }
  }

  /** [[Layout.compact]] through the snapshot commit: rewrite the
    * current snapshot's rows into ~targetBytes files and commit them
    * as the next version — readers NEVER see a vanish window (contrast
    * [[Layout.compactInPlace]]'s two-rename gap), and the old files
    * stay readable until [[vacuum]].
    */
  def compactSnapshot(spark: SparkSession, table: String,
                      targetBytes: Long = 128L << 20): Long =
    // CONDITIONAL on the base the rewrite read: an unconditional commit
    // here would carry the ledger read at `base` while silently erasing
    // a sink append that landed between that read and the claim — both
    // its rows and its ledger entry — reopening the duplicate-replay
    // hole the ledger exists to close. A rival landing mid-compaction
    // forces a re-read + recompute instead (maintenance loses races,
    // never data).
    retryingCommit(spark, table) { base =>
      val cur = read(spark, table, base)
      val referenced = snapshotFiles(spark, table, base)
      val f = fs(spark, table)
      val onDisk = referenced.map(rel =>
        f.getFileStatus(hp(table, rel)).getLen).sum
      val nFiles = math.max(1L, (onDisk + targetBytes - 1) / targetBytes)
      // carry the table's stat columns: a compaction that committed
      // with statsCols = Nil silently WIPED the envelopes table-wide
      // (found by the r15 review when CALL compact made it one SQL
      // statement away), disabling file pruning and every SQL write's
      // carry-forward until the next Scala-door commit with stats
      commit(spark, table, cur.coalesce(nFiles.toInt),
        statsCols = carriedStatsCols(spark, table, cur.schema),
        expectedBase = Some(base), op = "compact")
    }
}
