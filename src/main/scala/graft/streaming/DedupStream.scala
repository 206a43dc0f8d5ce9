package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A document arriving on the ingest stream. */
case class StreamDoc(doc_id: Long, ts: Timestamp, text: String)

/** One per-bucket candidate: arriving doc `doc_id` confirmed ≥ threshold
  * against prior doc `o_id`. The same pair can surface from several
  * band buckets (identical jaccard each time); [[DedupStream.bestMatches]]
  * reduces the emissions to one best prior per doc.
  */
case class BucketMatch(doc_id: Long, o_id: Long, jaccard: Double)

/** One EXACT-COLLAPSED index entry: a distinct token set plus its
  * occurrence FRONTIER — the (tsMs, doc_id) pairs, ascending in (ts, id)
  * with STRICTLY DECREASING ids (each kept occurrence has a smaller id
  * than every earlier one). That prefix-min-id frontier is the minimal
  * state that answers the tie-break query exactly: for a doc sealing at
  * (ts, id), "min prior id among all verbatim copies" is the LAST
  * frontier occurrence strictly before (ts, id). A copy whose id is not
  * below the running minimum can never win a (max jaccard, min id)
  * tie-break — some earlier, smaller-id copy is prior whenever it is —
  * so it is dropped at insert. With ids roughly increasing in event time
  * (every real ingest), the frontier is ONE occurrence per distinct
  * text: state is bounded by distinct texts, not stream length.
  *
  * `lastTs` is the text's RECENCY clock for the TTL lifecycle: the max
  * event time of ANY verbatim copy seen since the entry's creation —
  * the collapse may drop a redundant copy from the frontier, but a
  * dropped copy still proves the text is around and refreshes its TTL.
  */
case class IndexEntry(toks: Array[String], occs: List[(Long, Long)],
                      lastTs: Long = Long.MinValue)

/** Per-bucket state: the sealed, exact-collapsed LSH index slice (ts
  * kept so a LATE arrival — FMGWS receives rows behind the watermark
  * rather than dropping them — still matches only its event-time
  * priors) + the watermark-buffered arrivals (tsMs, doc_id, tokens).
  */
case class DedupBucketState(indexed: List[IndexEntry],
                            pending: List[(Long, Long, Array[String])])

/** One (bucket, doc) fan-out record. Flat — the watermark must tag a
  * TOP-LEVEL ts column, which a typed flatMap's nested tuple would lose.
  */
case class BucketDoc(bucket: Long, doc_id: Long, ts: Timestamp, text: String)

/** Streaming dedup-on-ingest (the real-time form of the
  * `dedup_incremental` batch key, SURVEY.md §2.9): every arriving doc is
  * matched against ALL event-time-prior docs — the continuously-growing
  * corpus — and then becomes part of the index itself. This is the
  * continuous-crawl shape: there is no batch/corpus boundary, the corpus
  * IS the stream's past.
  *
  * Mechanics (buffer until the watermark seals, then process in
  * event-time order, so the output cannot depend on how rows were
  * split into micro-batches):
  *  - each doc fans out to its `bands` LSH band buckets
  *    (`flatMap` before the keyed state), so candidate generation is
  *    per-bucket co-occurrence — never doc × history;
  *  - arrivals buffer per bucket until the watermark passes their ts
  *    (out-of-order and cross-batch interleavings then cannot change
  *    any doc's "prior" set — emission is order-independent, which the
  *    spec certifies across randomized splits);
  *  - sealed docs process in (ts, doc_id) order: match against the
  *    bucket's index plus earlier-sealed batchmates, emit confirmed
  *    candidates, then join the index;
  *  - an event-time timeout re-fires quiet buckets so buffered docs
  *    still seal.
  *
  * State: the per-bucket index is EXACT-COLLAPSED in-state (round-6
  * advice item, closed round 7): verbatim copies share one [[IndexEntry]]
  * whose occurrence frontier keeps only prefix-min ids, so index size is
  * bounded by DISTINCT texts (× bands), not stream length — the same
  * bound the batch scale path gets from
  * `Dedup.incrementalBestMatchCollapsed`. Collapsing changes no
  * best-match answer (certified vs the uncollapsed brute replay): per
  * distinct prior text the stream emits exactly the candidate the
  * (max jaccard, min id) tie-break would select, and redundant
  * same-text/larger-id candidates are the only emissions dropped. Near-
  * duplicate (non-verbatim) texts still get distinct entries — bounding
  * THAT is a threshold question, not a state-representation one.
  */
object DedupStream {

  /** Deterministic 64-bit mix (splitmix64 finalizer) — stable across
    * runs/JVMs, which keeps the spec's brute replay exact.
    */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private[graft] def tokensOf(text: String): Array[String] =
    text.split(" ").filter(_.nonEmpty).distinct

  /** Band bucket keys for a doc: k-component minhash over token hashes,
    * hashed per band slice. Pure function of the text — the spec replays
    * it for the brute expectation.
    */
  private[graft] def bandKeys(text: String, k: Int, bands: Int): Seq[Long] =
    bandKeysOf(tokensOf(text), k, bands)

  /** [[bandKeys]] over pre-computed tokens, so the ingest fan-out
    * tokenizes each doc once (the empty-doc guard already needs the
    * token array).
    */
  private def bandKeysOf(toks: Array[String], k: Int, bands: Int): Seq[Long] = {
    val base = toks.map(t => mix(t.hashCode.toLong))
    val sig = Array.tabulate(k) { j =>
      if (base.isEmpty) Long.MinValue
      else base.map(h => mix(h ^ mix(j.toLong))).min
    }
    val rows = k / bands
    (0 until bands).map { b =>
      val slice = sig.slice(b * rows, (b + 1) * rows)
      // fold the band slice to one key; include the band id so equal
      // slices in different bands cannot collide into one bucket
      slice.foldLeft(mix(b.toLong))((acc, h) => mix(acc ^ h))
    }.distinct
  }

  private[graft] def jaccard(a: Array[String], b: Array[String]): Double = {
    val sa = a.toSet
    val inter = b.count(sa.contains)
    inter.toDouble / (a.length + b.length - inter)
  }

  /** Insert an occurrence into an entry's frontier: place it at its
    * (ts, id) position, then re-apply the prefix-min-id filter (an
    * occurrence survives only with an id strictly below every earlier
    * one's). In-order ingest appends and immediately drops non-minimal
    * ids — frontier length 1; only a LATE smaller-id copy grows it.
    */
  private[graft] def insertOcc(e: IndexEntry, ts: Long, id: Long): IndexEntry = {
    val (before, after) = e.occs.partition(o =>
      o._1 < ts || (o._1 == ts && o._2 < id))
    val merged = before ::: ((ts, id) :: after)
    val kept = merged.foldLeft((List.empty[(Long, Long)], Long.MaxValue)) {
      case ((acc, minId), o) =>
        if (o._2 < minId) (o :: acc, o._2) else (acc, minId)
    }._1.reverse
    e.copy(occs = kept)
  }

  /** The frontier's tie-break query: the LAST occurrence strictly before
    * (ts, id) — because occs ascend in (ts, id) with strictly decreasing
    * ids, this IS "min id among all copies prior to (ts, id)" (the
    * FrontierPropertySpec pins that equivalence against a brute model
    * over random insert orders, i.e. arbitrary late arrivals).
    */
  private[graft] def bestPrior(occs: List[(Long, Long)],
                               ts: Long, id: Long): Option[(Long, Long)] =
    occs.takeWhile(o => o._1 < ts || (o._1 == ts && o._2 < id)).lastOption

  /** The candidate stream. Input needs no prior watermark — one is set
    * here on `ts`.
    */
  def matches(docs: Dataset[StreamDoc], threshold: Double,
              k: Int = 16, bands: Int = 4,
              watermark: String = "10 minutes"): Dataset[BucketMatch] =
    matchesImpl(docs, threshold, k, bands, watermark, ttlMs = None)

  /** The candidate stream WITH A STATE LIFECYCLE (round-9, the shared
    * event-time TTL that `DigestStream.digestsWithTtl` also uses): the
    * LSH index is the operator whose state is genuinely unbounded —
    * distinct texts × bands, forever. Here an entry is evicted once its text has been IDLE for
    * `ttl` of event time (no verbatim copy seen — `lastTs`, the max
    * copy time, is the clock base, so the collapse never shortens a
    * text's life). State is then bounded by texts ACTIVE inside the
    * trailing TTL window, under any churn; fully-idle buckets drop
    * their state row entirely.
    *
    * Semantics and determinism: eviction is EVENT-TIME-EXACT at match
    * time — a sealing doc at ts matches an indexed text iff the text
    * has a copy prior to (ts, id) AND its latest prior copy is within
    * `ttl` of ts (dead entries are dropped in the same pass). Because
    * sealed docs process in (ts, id) order, emissions are a pure
    * function of event time — split-invariant (spec-certified against
    * a brute replay with the same eviction rule). The watermark-based
    * sweep between batches only drops entries already dead for every
    * doc still ahead of the watermark, so it never changes an
    * emission for watermark-compliant data.
    *
    * The two documented deviations, both bounded and benign:
    *  - a LATE doc (sealing behind the watermark) can MISS a match
    *    against an entry the sweep already dropped — the same
    *    miss-never-wrong contract late docs already have vs the
    *    non-TTL stream's "emitted priors" rule;
    *  - a text REAPPEARING after eviction restarts its provenance:
    *    the new copy matches nothing (its past is evicted) and later
    *    copies attribute to IT, not the pre-eviction minimum id —
    *    deliberately, mirroring the digest's re-hydration contract.
    *    A pipeline needing all-time canonical ids merges the sink's
    *    match table with a periodic batch `dedup_incremental` pass
    *    over the archived corpus (which recovers exactly the pairs
    *    whose recency gap exceeded the TTL); the hot state holds only
    *    the active window.
    */
  def matchesWithTtl(docs: Dataset[StreamDoc], threshold: Double,
                     ttl: String, k: Int = 16, bands: Int = 4,
                     watermark: String = "10 minutes"): Dataset[BucketMatch] =
    matchesImpl(docs, threshold, k, bands, watermark,
      ttlMs = Some(EventTimeTtl.millis(ttl)))

  private def matchesImpl(docs: Dataset[StreamDoc], threshold: Double,
                          k: Int, bands: Int, watermark: String,
                          ttlMs: Option[Long]): Dataset[BucketMatch] = {
    require(k % bands == 0, s"k=$k must divide into $bands bands")
    import docs.sparkSession.implicits._
    docs
      // fan out BEFORE the watermark: the tag must sit on a top-level
      // column of the dataset that reaches the stateful operator.
      // Token-less docs (empty/whitespace text) are dropped here: they
      // all share the identical all-MinValue signature, so indexing them
      // would funnel every empty doc into the same band buckets — O(n²)
      // state and pairwise work for zero possible emissions (jaccard is
      // NaN, never ≥ threshold). Dropping them changes no output.
      .flatMap { d =>
        val toks = tokensOf(d.text)
        if (toks.isEmpty) Nil
        else bandKeysOf(toks, k, bands)
          .map(b => BucketDoc(b, d.doc_id, d.ts, d.text))
      }
      .withWatermark("ts", watermark)
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[DedupBucketState, BucketMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[BucketDoc], state: GroupState[DedupBucketState]) =>
          val st = state.getOption.getOrElse(DedupBucketState(Nil, Nil))
          val arrivals = rows.map { d =>
            (d.ts.getTime, d.doc_id, tokensOf(d.text))
          }.toList
          val wm = state.getCurrentWatermarkMs()
          // STRICTLY below: a doc with ts == wm can still be admitted,
          // and it must sort into the prior set of any same-ts doc with
          // a higher id before that one seals
          val (sealedNow, pending) =
            (st.pending ++ arrivals).partition(_._1 < wm)
          var index = st.indexed
          val out = sealedNow.sortBy(x => (x._1, x._2)).flatMap {
            case (ts, id, toks) =>
              // event-time-exact TTL at match time: an entry whose text
              // has been idle past ttl at THIS doc's event time is dead
              // for it — dropped before matching, in sealing order, so
              // the eviction is a pure function of event time
              ttlMs.foreach(t => index = index.filter(_.lastTs + t >= ts))
              // event-time priors only: a late doc (sealed behind its
              // peers) must not match docs from its event-time future —
              // the only late-data deviation is a MISSED match on docs
              // already emitted, never a wrong one. Per distinct prior
              // text, emit the ONE candidate the (max jaccard, min id)
              // tie-break selects: the last frontier occurrence strictly
              // before (ts, id) — occs ascend in (ts, id) with strictly
              // decreasing ids, so "last prior" IS "min prior id".
              val hits = index.flatMap { e =>
                bestPrior(e.occs, ts, id).flatMap { case (_, oid) =>
                  val j = jaccard(toks, e.toks)
                  if (j >= threshold) Some(BucketMatch(id, oid, j)) else None
                }
              }
              // exact-collapse insert: a verbatim copy extends its
              // entry's frontier (and refreshes the recency clock);
              // a new text gets a fresh entry
              val (same, rest) = index.partition(e =>
                e.toks.length == toks.length && e.toks.sameElements(toks))
              index = same match {
                case e :: _ =>
                  insertOcc(e, ts, id).copy(lastTs = math.max(e.lastTs, ts)) :: rest
                case Nil => IndexEntry(toks, List((ts, id)), ts) :: rest
              }
              hits
          }
          // quiet-bucket sweep: entries already dead for every doc still
          // ahead of the watermark free their state even with no sealing
          // traffic (late docs behind the watermark can only MISS)
          ttlMs.foreach(t => index = index.filter(_.lastTs + t >= wm))
          if (index.isEmpty && pending.isEmpty) {
            // fully-idle bucket: drop the whole state row — bucket count
            // is then bounded by the active-text set, not all-time
            if (state.exists) state.remove()
          } else {
            state.update(DedupBucketState(index, pending))
            // wakeups: the earliest buffered doc's seal time, or (TTL'd)
            // the earliest entry's eviction deadline
            val wake = pending.map(_._1 + 1) ++
              ttlMs.toList.flatMap(t => index.map(_.lastTs + t + 1))
            wake.minOption.foreach(ti =>
              state.setTimeoutTimestamp(math.max(ti, wm + 1)))
          }
          out.iterator
      }
  }

  /** Reduce the candidate emissions (streamed to any sink) to each doc's
    * best prior: max jaccard, min prior id on ties — the
    * dedup_incremental tie-break. Batch helper over the sink table; the
    * candidate stream itself stays append-mode exactly-once.
    */
  def bestMatches(candidates: DataFrame): DataFrame =
    candidates
      .groupBy(col("doc_id"))
      .agg(max_by(struct(col("o_id"), col("jaccard")),
        struct(col("jaccard"), (-col("o_id")).as("neg"))).as("b"))
      .select(col("doc_id"), col("b.o_id").as("dup_of"),
        col("b.jaccard").as("jaccard"))
}
