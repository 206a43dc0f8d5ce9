package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A typed row of the `events` table, the input of [[DriftStream]]. */
case class StreamEvent(event_id: Long, ts: java.sql.Timestamp,
                       user_id: Long, event_type: String, value: Double)

/** One finalized drift report row: a tumbling window's count in one
  * value bin, that bin's Laplace-smoothed PSI term against the
  * reference distribution, and the window's total PSI (repeated on each
  * of the window's rows so a sink can alert on any row without a second
  * aggregation). Every grid bin is emitted — including empty ones,
  * whose smoothed term is exactly what the batch key would produce —
  * so a window's report is always the full distribution picture.
  */
case class PsiWindowRow(window_start: Timestamp, bin: Long, n: Long,
                        psi_term: Double, psi_total: Double)

private[streaming] case class DriftWindowState(counts: Map[Long, Long])

/** Streaming PSI drift monitor — the live face of the batch
  * `evt_drift_psi` key (SURVEY.md §2.8): the reference window's bin
  * distribution is a FROZEN input (profiled once from training data and
  * shipped with the model, exactly how production drift gates work),
  * and each event-time tumbling window of the live stream reports its
  * per-bin PSI terms once, when the watermark proves the window
  * complete.
  *
  * Semantics: value → the batch key's fixed integer-cents grid
  * (least(9, cents·10 div 50000)); per-window bin counts accumulate in
  * state keyed by window start; when the watermark passes the window
  * end the full grid is emitted with p_cur = (n_b+1)/(N+bins) vs
  * p_ref = (ref_b+1)/(refT+bins) and term = (p_cur−p_ref)·ln(p_cur/p_ref);
  * the window total folds the terms in bin order inside one JVM — a
  * deterministic sum. State per window is ≤ one long per grid bin, and
  * windows seal+evict exactly once (timeout at window end re-fires
  * windows whose stream went quiet). Late rows beyond the watermark are
  * dropped by the watermark contract — the same completeness bound
  * every append-mode window aggregate carries.
  */
object DriftStream {

  /** Mirror of the batch key's `round(value * 100).cast("long")`. */
  private def cents(v: Double): Long =
    BigDecimal(v * 100).setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong

  /** Clamped BOTH sides: a negative value must land in bin 0, not in a
    * negative phantom bin that accumulates state yet never emits (the
    * emission loop covers 0..bins-1) while skewing every p_cur.
    */
  private[streaming] def bin(vCents: Long, bins: Long): Long =
    math.max(0L, math.min(bins - 1, vCents * 10 / 50000))

  def psiWindows(events: Dataset[StreamEvent],
                 reference: Map[Long, Long],
                 windowSeconds: Long = 3600L,
                 watermark: String = "10 minutes",
                 bins: Long = 10L): Dataset[PsiWindowRow] = {
    import events.sparkSession.implicits._
    require(bins >= 1, "need at least one grid bin")
    val refT = reference.values.sum
    val windowMs = windowSeconds * 1000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(e => math.floorDiv(e.ts.getTime, windowMs) * windowMs)
      .flatMapGroupsWithState[DriftWindowState, PsiWindowRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (wstartMs: Long, rows: Iterator[StreamEvent], state: GroupState[DriftWindowState]) =>
          val prev = state.getOption.map(_.counts).getOrElse(Map.empty[Long, Long])
          val counts = rows.foldLeft(prev) { (m, e) =>
            val b = bin(cents(e.value), bins)
            m.updated(b, m.getOrElse(b, 0L) + 1L)
          }
          val wm = state.getCurrentWatermarkMs()
          val wend = wstartMs + windowMs
          if (wm >= wend) {
            // sealed: no non-late event can still join this window
            state.remove()
            val curT = counts.values.sum
            val terms = (0L until bins).map { b =>
              val n = counts.getOrElse(b, 0L)
              val pc = (n + 1).toDouble / (curT + bins).toDouble
              val pr = (reference.getOrElse(b, 0L) + 1).toDouble / (refT + bins).toDouble
              (b, n, (pc - pr) * math.log(pc / pr))
            }
            val total = terms.foldLeft(0.0)(_ + _._3) // bin-ordered fold
            terms.iterator.map { case (b, n, t) =>
              PsiWindowRow(new Timestamp(wstartMs), b, n, t, total)
            }
          } else {
            state.update(DriftWindowState(counts))
            // re-fire once the watermark can seal the window, even if the
            // stream goes quiet; timeouts must sit beyond the watermark
            state.setTimeoutTimestamp(math.max(wend, wm + 1))
            Iterator.empty
          }
      }
  }
}
