package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupStateTimeout, GroupState, OutputMode}

/** One user event on the ingest stream (the digest needs no event-time
  * semantics — it is a running total, so no watermark/timestamp here).
  */
case class UserEvent(user_id: Long, event_type: String)

/** A user event with an event-time stamp — the input of the TTL'd
  * digest, whose state lifecycle is driven by event time.
  */
case class TimedUserEvent(user_id: Long, event_type: String,
                          ts: java.sql.Timestamp)

/** TTL'd per-user state: the running counts plus the max event time seen
  * for this user (the TTL clock base — kept in state so late
  * out-of-order events can never move the eviction deadline backwards).
  */
case class DigestTtlState(counts: Map[String, Long], maxTsMs: Long)

/** One emission of the TTL'd digest stream: `evicted = false` rows are
  * live refreshes (upsert on user_id); the `evicted = true` row is the
  * user's FINAL digest, flushed when the state is dropped — the sink's
  * cue to archive or delete the user's row.
  */
case class UserDigestUpdate(user_id: Long, digest: String, evicted: Boolean)

/** Shared event-time TTL parsing for the lifecycle'd stateful operators
  * (DigestStream.digestsWithTtl, DedupStream.matchesWithTtl): one
  * interval grammar, one months-are-ambiguous rejection.
  */
private[streaming] object EventTimeTtl {
  def millis(ttl: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(ttl))
    require(iv.months == 0, s"TTL '$ttl' must be day-or-finer (calendar months vary)")
    val ms = iv.days * 86400000L + iv.microseconds / 1000L
    require(ms > 0, s"TTL '$ttl' must be positive")
    ms
  }
}

/** Per-user running state: event-type → count. */
case class DigestState(counts: Map[String, Long])

/** A user's digest as of the latest micro-batch that touched them. */
case class UserDigest(user_id: Long, digest: String)

/** Streaming twin of the `nested_event_digest` batch key (SURVEY.md
  * §2.7): a continuously-maintained per-user event digest — the export
  * row a live dashboard or feature store reads. Running totals are
  * order-insensitive (counts commute), so unlike DedupStream and
  * DriftStream this needs no watermark: state is one small map per
  * user (bounded by event-type cardinality, the same bound as the
  * batch digest), updated per micro-batch with `mapGroupsWithState` in
  * Update mode, emitting the user's refreshed digest row.
  *
  * The emitted JSON is byte-identical to the batch key's
  * `to_json(array_sort(collect_list(struct(event_type, cnt))))` — the
  * spec certifies that across randomized batch splits. That holds
  * because event types are unique per user after counting (the sort key
  * is the type alone) and the corpus's types are plain identifiers;
  * a type containing JSON-special characters would need the same
  * escaping `to_json` applies (documented limit, asserted nowhere
  * cheaper than the spec's equality check).
  */
object DigestStream {

  /** Render counts exactly like the batch `to_json(array_sort(...))`. */
  private[graft] def digestJson(counts: Map[String, Long]): String =
    counts.toSeq.sortBy(_._1)
      .map { case (t, n) => s"""{"event_type":"$t","cnt":$n}""" }
      .mkString("[", ",", "]")

  /** The running digest stream: each micro-batch emits one refreshed
    * [[UserDigest]] per touched user (Update-mode semantics — a sink
    * upserts on user_id).
    */
  def digests(events: Dataset[UserEvent]): Dataset[UserDigest] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[DigestState, UserDigest](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[DigestState]) =>
          val st = state.getOption.getOrElse(DigestState(Map.empty))
          val counts = rows.foldLeft(st.counts) { (m, e) =>
            m.updated(e.event_type, m.getOrElse(e.event_type, 0L) + 1L)
          }
          state.update(DigestState(counts))
          UserDigest(uid, digestJson(counts))
      }
  }

  /** The digest stream WITH A STATE LIFECYCLE — the production posture
    * for unbounded key domains. [[digests]]' state is one map per user
    * with `NoTimeout` forever: at 10⁹ users that is users × types state
    * that only ever grows (round-7 verdict gap). Here each user's state
    * carries an EVENT-TIME TTL: when the watermark passes
    * `maxTs(user) + ttl` — the user has been idle for `ttl` of event
    * time — the state is dropped, after emitting one final
    * `evicted = true` digest row so the sink can archive the user.
    * State size is then bounded by the ACTIVE user set (users with an
    * event inside the trailing TTL window), not the all-time user
    * count, under any churn rate.
    *
    * Determinism contract: every emitted DIGEST value (live or final)
    * is a pure function of the events delivered for that user since its
    * last eviction — byte-equal to the batch `nested_event_digest` JSON
    * over exactly those events, any micro-batch split (spec-certified).
    * Eviction TIMING is quantized to micro-batch boundaries (a timeout
    * fires on the first batch whose starting watermark exceeds the
    * deadline — the standard Structured Streaming timeout semantics),
    * so WHICH events fall on each side of an eviction depends on the
    * split only for events arriving later than `watermarkDelay` — the
    * same staleness boundary every watermarked operator already has.
    * The TTL clock base is the max event time SEEN for the user
    * (monotone in state), never processing time, so replaying the same
    * log gives the same digests.
    *
    * Re-hydration semantics: a user reappearing after eviction restarts
    * from zero — deliberately, and deterministically: the final digest
    * was flushed to the sink, so a feature store that needs all-time
    * totals merges `evicted` rows with live rows (count maps are
    * commutative monoids — the merge is field-wise addition), while the
    * hot state holds only the active window. That split (bounded hot
    * state + mergeable archive) is the standard lifecycle for unbounded
    * key domains.
    */
  def digestsWithTtl(events: Dataset[TimedUserEvent], ttl: String,
                     watermarkDelay: String): Dataset[UserDigestUpdate] = {
    import events.sparkSession.implicits._
    val ttlMs = EventTimeTtl.millis(ttl)
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[DigestTtlState, UserDigestUpdate](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[TimedUserEvent], state: GroupState[DigestTtlState]) =>
          if (state.hasTimedOut) {
            val finalDigest = digestJson(state.get.counts)
            state.remove()
            Iterator.single(UserDigestUpdate(uid, finalDigest, evicted = true))
          } else {
            val st = state.getOption.getOrElse(DigestTtlState(Map.empty, Long.MinValue))
            var maxTs = st.maxTsMs
            val counts = rows.foldLeft(st.counts) { (m, e) =>
              maxTs = math.max(maxTs, e.ts.getTime)
              m.updated(e.event_type, m.getOrElse(e.event_type, 0L) + 1L)
            }
            state.update(DigestTtlState(counts, maxTs))
            // deadline = idle-for-ttl in EVENT time; a user whose events
            // are already older than watermark − ttl (possible under
            // heavy lateness) gets the earliest legal deadline instead —
            // Spark requires the timeout to sit beyond the watermark
            val wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(math.max(maxTs + ttlMs, wm + 1))
            Iterator.single(UserDigestUpdate(uid, digestJson(counts), evicted = false))
          }
      }
  }
}
