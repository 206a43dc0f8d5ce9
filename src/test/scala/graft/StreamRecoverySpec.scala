package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{BucketMatch, DedupStream, StreamDoc}

/** Checkpoint recovery for the stateful streams: stop a query mid-stream
  * and restart it from the same checkpoint — the per-key state (the LSH
  * index built from sealed docs) and the watermark must survive, so a
  * doc arriving AFTER the restart still matches a doc indexed BEFORE
  * it. This is the operational property a continuous 100 TB ingest
  * pipeline leans on: executors die, queries redeploy, state carries.
  */
class StreamRecoverySpec extends SparkSpec {

  private def at(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("DedupStream state and watermark survive a query restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("dedup-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("dedup-out").toString
    val input = MemoryStream[StreamDoc]

    // the memory sink refuses checkpoint recovery; the parquet sink is
    // the fault-tolerant one a real pipeline writes to
    def start() =
      DedupStream.matches(input.toDS(), 0.5, watermark = "1 minute")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()

    // run 1: doc 1 arrives, then a watermark-advancer seals it into the
    // per-bucket index; stop the query afterwards
    val q1 = start()
    input.addData(Seq(StreamDoc(1, at(2), "alpha beta gamma delta")))
    q1.processAllAvailable()
    input.addData(Seq(StreamDoc(900, at(30), "watermark advancer words")))
    q1.processAllAvailable()
    q1.stop()

    // run 2: same checkpoint — doc 2 (a near-dup of doc 1) arrives only
    // now; matching it proves the indexed state was recovered, not
    // rebuilt from the new data
    val q2 = start()
    input.addData(Seq(StreamDoc(2, at(35), "alpha beta gamma delta epsilon")))
    q2.processAllAvailable()
    input.addData(Seq(StreamDoc(901, Timestamp.valueOf("2024-06-01 00:00:00"),
      "far future advancer")))
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(out).as[BucketMatch].collect()
      .filter(m => m.doc_id == 2L)
    assert(got.nonEmpty && got.forall(_.o_id == 1L),
      s"doc 2 must match the doc indexed before the restart, got ${got.toSeq}")
    val j = DedupStream.jaccard(
      DedupStream.tokensOf("alpha beta gamma delta epsilon"),
      DedupStream.tokensOf("alpha beta gamma delta"))
    assert(got.exists(m => math.abs(m.jaccard - j) < 1e-12))
  }

  test("matchesWithTtl state AND eviction clock survive a query restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("dedup-ttl-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("dedup-ttl-out").toString
    val input = MemoryStream[StreamDoc]
    def sec(s: Int): Timestamp = new Timestamp(1700000000000L + s * 1000L)

    def start() =
      DedupStream.matchesWithTtl(input.toDS(), 0.5, "300 seconds",
          watermark = "1 minute")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()

    // run 1: doc 1 seals into the index, with its TTL clock in state
    val q1 = start()
    input.addData(Seq(StreamDoc(1, sec(0), "alpha beta gamma delta")))
    q1.processAllAvailable()
    input.addData(Seq(StreamDoc(900, sec(100), "watermark advancer words")))
    q1.processAllAvailable()
    q1.stop()

    // run 2, same checkpoint: doc 2 (in TTL of doc 1's clock) must match
    // the recovered entry; doc 4 arrives past the TTL of the text's last
    // copy (doc 2 at 120 s; 800 − 120 > 300) — the recovered+refreshed
    // clock must evict, so it matches NOTHING
    val q2 = start()
    input.addData(Seq(StreamDoc(2, sec(120), "alpha beta gamma delta epsilon")))
    q2.processAllAvailable()
    input.addData(Seq(StreamDoc(901, sec(300), "mid advancer tokens here")))
    q2.processAllAvailable()
    input.addData(Seq(StreamDoc(4, sec(800), "alpha beta gamma delta")))
    q2.processAllAvailable()
    input.addData(Seq(StreamDoc(902, sec(2000), "far future advancer")))
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(out).as[BucketMatch].collect()
    val doc2 = got.filter(_.doc_id == 2L)
    assert(doc2.nonEmpty && doc2.forall(_.o_id == 1L),
      s"doc 2 must match the entry indexed before the restart: ${got.toSeq}")
    assert(!got.exists(_.doc_id == 4L),
      s"doc 4 is past the TTL of the text's last copy — the eviction " +
        s"clock must survive the restart: ${got.toSeq}")
  }
}
