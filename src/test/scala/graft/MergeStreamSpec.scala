package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.MergeStream

/** One change-log record: `version` is the per-key monotone CDC clock
  * (globally unique in these tests so ties never arise by accident).
  */
case class Change(id: Long, payload: String, version: Long, deleted: Boolean)

/** The streaming CDC upsert lifecycle: the maintained table must be a
  * pure function of the max-version change per key — whatever the batch
  * splits, the arrival order, or the replays — tombstones must be
  * RETAINED so late updates cannot resurrect deleted keys, and the
  * serving view / tombstone GC must compose with all of it.
  */
class MergeStreamSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  /** Ground truth: the max-version change per key, verbatim (tombstones
    * included — they are table rows until purged).
    */
  private def brute(changes: Seq[Change]): Set[Change] =
    changes.groupBy(_.id).values.map(_.maxBy(_.version)).toSet

  private def tableRows(path: String): Set[Change] = {
    import spark.implicits._
    spark.read.parquet(path).as[Change].collect().toSet
  }

  private def applyBatch(path: String, rows: Seq[Change]): Unit = {
    import spark.implicits._
    MergeStream.applyBatch(spark, path, rows.toDF(), Seq("id"), "version")
  }

  private def corpus(n: Int, keys: Int, seed: Int): Seq[Change] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { v =>
      Change(rnd.nextInt(keys).toLong, s"p$v-${rnd.nextInt(1000)}",
        v.toLong, rnd.nextInt(5) == 0)
    }
  }

  test("the table is the max-version change per key across randomized splits and arrival orders") {
    val changes = corpus(240, 40, seed = 7)
    val want = brute(changes)
    Seq(11, 23, 47).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val shuffled = rnd.shuffle(changes)
      val path = tmp(s"merge-$seed")
      var i = 0
      while (i < shuffled.size) {
        val k = 1 + rnd.nextInt(60)
        applyBatch(path, shuffled.slice(i, i + k))
        i += k
      }
      assert(tableRows(path) == want,
        s"seed $seed: table must equal the global max-version rows")
    }
  }

  test("replaying a committed batch is a no-op (at-least-once becomes exactly-once)") {
    val path = tmp("merge-replay")
    val b1 = Seq(Change(1, "a", 10, false), Change(2, "b", 11, false))
    val b2 = Seq(Change(1, "a2", 20, false), Change(3, "c", 21, true))
    applyBatch(path, Seq.empty) // an empty micro-batch before any commit
    assert(!new java.io.File(path).exists(), "an empty first batch creates no table")
    applyBatch(path, b1)
    applyBatch(path, b2)
    val committed = tableRows(path)
    applyBatch(path, Seq.empty)
    assert(tableRows(path) == committed, "an empty batch changes nothing")
    applyBatch(path, b2) // the replay foreachBatch can deliver
    assert(tableRows(path) == committed, "replay must rewrite byte-identically")
    applyBatch(path, b1) // an even older replay: every row out-versioned
    assert(tableRows(path) == committed, "stale replay must change nothing")
  }

  test("a late update cannot resurrect a deleted key; the tombstone holds the version watermark") {
    val path = tmp("merge-late")
    applyBatch(path, Seq(Change(5, "v1", 1, false)))
    applyBatch(path, Seq(Change(5, "gone", 3, true)))
    applyBatch(path, Seq(Change(5, "v2-late", 2, false))) // late, pre-delete
    assert(tableRows(path) == Set(Change(5, "gone", 3, true)),
      "the tombstone must survive the late update")
    val served = MergeStream.current(spark, path, "deleted").collect()
    assert(served.isEmpty, "the serving view must not show the deleted key")
  }

  test("intra-batch duplicates collapse to the max-version row before merging") {
    val path = tmp("merge-dups")
    // three changes to one key in ONE batch — raw Layout.merged would
    // raise its one-change-row-per-key guard; the collapse must feed it
    // exactly the version-5 row
    applyBatch(path, Seq(
      Change(9, "v1", 3, false), Change(9, "v2", 5, false),
      Change(9, "v0", 1, true), Change(8, "x", 4, false)))
    assert(tableRows(path) ==
      Set(Change(9, "v2", 5, false), Change(8, "x", 4, false)))
  }

  test("tombstone GC purges only below the horizon; live rows are never purged") {
    val path = tmp("merge-purge")
    applyBatch(path, Seq(
      Change(1, "dead-old", 10, true), Change(2, "dead-new", 30, true),
      Change(3, "live-old", 5, false)))
    assert(MergeStream.purgeTombstones(spark, path, "deleted", "version", 20L) == 1L)
    assert(tableRows(path) ==
      Set(Change(2, "dead-new", 30, true), Change(3, "live-old", 5, false)),
      "only the below-horizon tombstone goes; live rows stay regardless of version")
    assert(MergeStream.purgeTombstones(spark, path, "deleted", "version", 20L) == 0L,
      "idempotent: nothing left below the horizon")
  }

  test("purgeTombstones killed between the swap's renames recovers mechanically") {
    import spark.implicits._
    val path = tmp("merge-purge-kill")
    applyBatch(path, Seq(
      Change(1, "dead-old", 10, true), Change(2, "live", 30, false)))
    // the kill point: a purge staged its output, wrote the publish
    // marker, renamed live aside — and died before renaming the staging
    // in. The live path is ABSENT; the marker says how to finish.
    val staging = s"${path}__staging"
    Seq(Change(2, "live", 30, false)).toDF()
      .write.parquet(staging)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${path}__PUBLISH_PENDING"),
      staging.getBytes("UTF-8"))
    val trash = new java.io.File(s"${path}__trash")
    assert(new java.io.File(path).renameTo(trash), "simulate rename-aside")
    // the NEXT purge call self-heals at entry, then proceeds on the
    // recovered (already-purged) table — nothing left below the horizon
    assert(MergeStream.purgeTombstones(spark, path, "deleted", "version", 20L) == 0L)
    assert(tableRows(path) == Set(Change(2, "live", 30, false)),
      "the staged purge landed; the table is whole")
    assert(!trash.exists() &&
      !new java.io.File(s"${path}__PUBLISH_PENDING").exists() &&
      !new java.io.File(staging).exists(), "publish machinery fully retired")
    // and applyBatch self-heals the same state before merging
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${path}__PUBLISH_PENDING"),
      s"${path}__staging2".getBytes("UTF-8"))
    Seq(Change(2, "recovered", 31, false)).toDF()
      .write.parquet(s"${path}__staging2")
    assert(new java.io.File(path).renameTo(new java.io.File(s"${path}__trash")))
    applyBatch(path, Seq(Change(3, "new", 40, false)))
    assert(tableRows(path) ==
      Set(Change(2, "recovered", 31, false), Change(3, "new", 40, false)),
      "applyBatch recovered the pending publish BEFORE merging on top of it")
  }

  test("upsertSink maintains the table through a checkpointed restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = tmp("merge-sink")
    val ckpt = java.nio.file.Files.createTempDirectory("merge-ckpt").toString
    val input = MemoryStream[Change]
    def start() = MergeStream.upsertSink(
      input.toDF(), path, Seq("id"), "version", ckpt)

    val q1 = start()
    input.addData(Seq(Change(1, "a", 1, false), Change(2, "b", 2, false)))
    q1.processAllAvailable()
    q1.stop()

    // run 2, same checkpoint: the table picks up where run 1 committed
    val q2 = start()
    input.addData(Seq(Change(1, "a2", 3, false), Change(2, "", 4, true)))
    q2.processAllAvailable()
    q2.stop()

    assert(tableRows(path) ==
      Set(Change(1, "a2", 3, false), Change(2, "", 4, true)))
    val served = MergeStream.current(spark, path, "deleted")
      .as[Change].collect().toSet
    assert(served == Set(Change(1, "a2", 3, false)))
  }
}
