package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryPack, Tables}

/** SURVEY.md §2.8 — event-time operators, batch-verified; the oracle
  * checks the batch semantics here. Only `evt_drift_psi` has a streaming
  * form (`graft.streaming.DriftStream`); the others are batch-only.
  *
  * Window starts are emitted as epoch SECONDS (BIGINT): events.ts is ns in
  * parquet and Spark reads µs, so any raw-timestamp emit would drift
  * against DuckDB's ns view (SURVEY.md §7.5.4). All bucket math lands on
  * integer seconds where both engines agree exactly.
  */
object EventTimeQueries extends QueryPack {

  /** 1-hour tumbling windows via Spark's `window()` — per event_type
    * counts + cent-scaled value sums.
    */
  private def evtTumbling(s: SparkSession, dir: String): DataFrame =
    Tables.eventsTs(s, dir)
      .groupBy(window(col("ts_utc"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum("value") * 100).cast("long").as("sum_value_c"))
      .select(
        unix_timestamp(col("w.start")).as("wstart_s"),
        col("event_type"), col("n"), col("sum_value_c"))
      .orderBy(col("wstart_s"), col("event_type"))

  /** 1-hour windows sliding every 30 min — each event lands in exactly 2
    * windows. Oracle replays the same assignment with integer epoch math.
    */
  private def evtSliding(s: SparkSession, dir: String): DataFrame =
    Tables.eventsTs(s, dir)
      .groupBy(window(col("ts_utc"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        unix_timestamp(col("w.start")).as("wstart_s"),
        col("event_type"), col("n"))
      .orderBy(col("wstart_s"), col("event_type"))

  /** Per-user sessions with a 30-min inactivity gap, as gaps-and-islands:
    * session-start flag via lag, running sum numbers the sessions — the
    * portable twin of `session_window` (SURVEY.md §7.4). All boundary math
    * on exact ns longs.
    */
  private def evtSession(s: SparkSession, dir: String): DataFrame = {
    val byTs = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapNs = 30L * 60 * 1000000000L
    Tables.events(s, dir)
      .withColumn("prev_ts", lag("ts", 1).over(byTs))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapNs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum("new_session").over(byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        expr("(max(ts) - min(ts)) DIV 1000000000").as("duration_s"),
        expr("min(ts) DIV 1000000000").as("start_s"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Gap-filled hourly series per event_type: absent hours between each
    * type's min and max hour appear with n=0. Bucketing is exact integer
    * division on the ns epoch, so both engines bucket bit-identically.
    *
    * Scale shape — sparse-to-dense WITHOUT a self-join: each sparse hour
    * looks up its successor (`lead`) and emits its own gap run
    * (`sequence(h, next_h-1)` + explode, zero-filled past the first
    * element). The naive bounds-grid-left-join formulation references
    * the aggregated counts twice, and column pruning makes the two
    * subtrees non-identical so ReuseExchange cannot kick in — the fact
    * table gets scanned twice (measured). This form is one scan, one
    * aggregation, one window — strictly the 100 TB-correct plan.
    */
  private def evtGapfill(s: SparkSession, dir: String): DataFrame = {
    val hourNs = 3600L * 1000000000L
    val byType = Window.partitionBy("event_type").orderBy("h")
    Tables.events(s, dir)
      // the corpus has no nulls, but a null ts/event_type would diverge
      // from the oracle's NULL handling (its grid join and min/max drop
      // them); both sides exclude them explicitly so the pair stays
      // equivalent on any input
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .groupBy(col("event_type"), expr(s"ts DIV $hourNs").as("h"))
      .agg(count(lit(1)).as("n"))
      .withColumn("next_h", lead("h", 1).over(byType))
      // explode_outer: the run is provably non-empty (next_h > h), and
      // plain explode would pick up an inferred non-codegen Filter
      // re-evaluating the sequence (round-2 generator trap)
      .select(col("event_type"), col("h"), col("n"),
        explode_outer(sequence(col("h"),
          coalesce(col("next_h") - 1, col("h")))).as("hh"))
      .select(col("event_type"), (col("hh") * 3600).as("h_s"),
        when(col("hh") === col("h"), col("n")).otherwise(lit(0L)).as("n"))
      .orderBy(col("event_type"), col("h_s"))
  }

  /** First-touch funnel view → click → purchase per user (the
    * MATCH_RECOGNIZE-shaped sequence query): each stage is the earliest
    * event of its type AFTER the previous stage, emitted as epoch
    * seconds (null where the user never advanced). Scale shape: three
    * chained conditional window minimums share ONE user_id partitioning
    * (one shuffle, one scan, no self-joins — the naive per-stage
    * join-chain scans events three times), and the final per-user
    * collapse reuses that partitioning, so the whole funnel is a single
    * Exchange.
    */
  private def evtFunnel(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
    Tables.events(s, dir)
      .withColumn("v_ts",
        min(when(col("event_type") === "view", col("ts"))).over(byUser))
      .withColumn("c_ts",
        min(when(col("event_type") === "click" && col("ts") > col("v_ts"),
          col("ts"))).over(byUser))
      .withColumn("p_ts",
        min(when(col("event_type") === "purchase" && col("ts") > col("c_ts"),
          col("ts"))).over(byUser))
      .groupBy(col("user_id"))
      .agg(
        expr("min(v_ts) DIV 1000000000").as("view_s"),
        expr("min(c_ts) DIV 1000000000").as("click_s"),
        expr("min(p_ts) DIV 1000000000").as("purchase_s"))
      .orderBy(col("user_id"))
  }

  /** Per-type z-score outliers (|z| > 2.5) — the anomaly-flagging shape,
    * parameterized over the events input so ScaleBench benchmarks the
    * SAME plan at 10×/30× (regionalRevenueCore precedent); unordered —
    * the oracle key adds the total order. Mean and stddev are derived
    * from EXACT integer aggregates (per-row cents, then count / sum /
    * sum-of-squares — associative integer sums: BIGINT for s, and
    * DECIMAL(38,0) for the squares, whose per-row terms ~v² would
    * overflow a BIGINT sum around 10⁹ large-valued rows per type), so
    * unlike avg()/stddev() over raw doubles the moments are
    * bit-identical under any partitioning AND in DuckDB; the few double
    * ops that follow replay the same operand sequence in both engines,
    * making even the |z| > threshold membership test safe (§7.5 forbids
    * float-threshold filters on engine-drifting values — these don't
    * drift). Scale shape: one partial/final agg to 5 moment rows
    * (broadcast back), one scan re-read — no wide shuffle.
    */
  def zscoreCore(eventsRaw: DataFrame): DataFrame = {
    val ev = eventsRaw
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("v_c"))
    val moments = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v_c")).as("s"),
        // v_c enters the multiply as decimal so the per-row square is
        // already exact decimal — a long*long square would wrap first
        sum(col("v_c").cast("decimal(19,0)") * col("v_c")).as("q"))
      .filter(col("n") > 1)
      // sample variance from exact moments: (q − s²/n) / (n−1); the
      // exact integers promote to double in the same operand order on
      // both sides
      .select(col("event_type"), (col("s").cast("double") / col("n")).as("mean_c"),
        sqrt((col("q").cast("double") - col("s").cast("double") * col("s") / col("n")) /
          (col("n") - 1)).as("std_c"))
      .filter(col("std_c") > 0)
    ev.join(broadcast(moments), "event_type")
      .select(col("event_id"), col("event_type"), col("v_c"),
        ((col("v_c") - col("mean_c")) / col("std_c")).as("z"))
      .filter(abs(col("z")) > 2.5)
      .select(col("event_id"), col("event_type"), col("v_c"),
        round(col("z"), 4).as("z"))
  }

  private def evtZscore(s: SparkSession, dir: String): DataFrame =
    zscoreCore(Tables.events(s, dir))
      .orderBy(col("event_type"), col("event_id"))

  /** Hourly OHLC bars per event_type — the time-series downsampling
    * shape. Spark side is ONE hash aggregate: open/close are
    * min_by/max_by on an exact DECIMAL(38,0) encoding of the UNIQUE
    * (ts, event_id) composite (ts·10¹² + id: 19+12 digits < 38, exact
    * integer math — a struct ordering would demote the whole agg to a
    * non-partial SortAggregate and shuffle every fact row; the decimal
    * keeps the buffer fixed-width, so it partial-aggregates map-side
    * and never sorts). Ties cannot make the pick nondeterministic;
    * the id term needs event_id < 10¹² (a comfortable bound even at
    * petabyte event volume) or the encoding would misorder ids against
    * sub-µs timestamp gaps.
    * Values pass through unrounded — no arithmetic touches them. Hour
    * buckets are exact integer division on the ns epoch. (DuckDB's
    * min_by cannot order by a composite either way, so the oracle
    * replays open/close with two row_number windows; same result,
    * engine-local idiom.)
    */
  private def evtOhlc(s: SparkSession, dir: String): DataFrame = {
    val hourNs = 3600000000000L
    Tables.events(s, dir)
      .select(col("event_type"), expr(s"ts DIV $hourNs").as("hour"),
        expr("CAST(ts AS DECIMAL(38,0)) * 1000000000000 + event_id").as("okey"),
        col("value"))
      .groupBy(col("event_type"), col("hour"))
      .agg(
        min_by(col("value"), col("okey")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("okey")).as("close"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Rolling 7-day distinct active users per observed day (DAU + weekly
    * actives) — the engagement shape every corpus-freshness dashboard
    * runs. A RANGE-frame `count(DISTINCT)` window doesn't exist in
    * either engine, and the naive day×day self-join is quadratic in
    * days; instead each PRE-SHRUNK (user, day) pair — one row per user
    * per active day, the dedup that makes 100 TB of raw events
    * irrelevant — explodes to the ≤7 window days it can serve, and one
    * hash aggregate counts distinct users per day. Linear in (user, day)
    * pairs, bounded 7× expansion, no window over a low-cardinality key.
    * The observed-days broadcast join drops ghost days past the data's
    * edge (a window must END on an observed day to exist).
    */
  def rollingActiveCore(events: DataFrame): DataFrame = {
    val dayNs = 86400000000000L
    val ud = events
      .select(col("user_id"), expr(s"ts DIV $dayNs").as("day"))
      .distinct()
    val expanded = ud
      .select(col("user_id"), col("day").as("day0"),
        explode(sequence(lit(0L), lit(6L))).as("o"))
      .select(col("user_id"), col("day0"), (col("day0") + col("o")).as("day"))
    // r15 (guide §1.1): a day is OBSERVED exactly when some user was
    // active ON it — i.e. active_1d ≥ 1 — so the observed-days list is
    // already inside the aggregate and the separate distinct-days scan
    // + broadcast join is dead weight (the ≤ 6 ghost groups past each
    // activity edge aggregate a handful of rows and are dropped by the
    // filter). Identical rows: countDistinct skips nulls on both
    // engines, and user_id is non-null in every events fixture (0 nulls
    // at all three SFs — ENFORCED by TablesContractSpec's fixture-
    // invariant test, r16, so a testdata regen that introduces null
    // user_ids fails there instead of silently diverging here), so
    // day ∈ days ⇔ active_1d ≥ 1.
    expanded
      .groupBy(col("day"))
      .agg(
        countDistinct(col("user_id")).as("active_7d"),
        countDistinct(when(col("day0") === col("day"), col("user_id")))
          .as("active_1d"))
      .filter(col("active_1d") >= 1)
  }

  private def evtRollingActive(s: SparkSession, dir: String): DataFrame =
    rollingActiveCore(Tables.events(s, dir)).orderBy(col("day"))

  /** Event-type TRANSITION MATRIX — the first-order Markov model of
    * user behavior (session-flow analysis, anomaly baselines, UX funnel
    * discovery): per (from, to) event-type pair, the corpus-wide count
    * of consecutive occurrences within a user's ts-ordered stream and
    * the row-normalized transition probability. Consecutiveness is
    * per-user `lag` over (ts, event_id) — the deterministic total order
    * every evt_* key uses. The probability divides exact integers once,
    * rounded once — engine-exact (no float accumulation). Oracle text
    * is PORTABLE: ordering by raw TIMESTAMP ts in DuckDB and by the
    * canonical ns BIGINT in Spark produces the identical order, and no
    * ts value is emitted.
    *
    * Plan: ONE user_id hash exchange (the lag window), then a tiny
    * (from, to) aggregate (≤ |types|² rows). Row totals come from a
    * window OVER that tiny count table, not a self-join — a rejoin
    * would plan the whole fact subtree twice (probed: 4 exchanges, the
    * user window among them duplicated). At 100 TB the window shuffle
    * is the only data-sized move, and it reuses the partitioning every
    * other per-user key needs (co-schedulable in a shared pipeline).
    */
  private def evtTransitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val byTs = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, dir)
      .select(col("user_id"), col("event_type").as("to_type"),
        lag("event_type", 1).over(byTs).as("from_type"))
      .filter(col("from_type").isNotNull)
    val byFrom = Window.partitionBy("from_type")
    pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(byFrom))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("tot"), 4).as("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Weekly COHORT RETENTION MATRIX — the classic cohort triangle every
    * growth dashboard draws: users grouped by first-active week, and for
    * each later week the count still active plus the retention rate
    * against the cohort's own week-0 size. Week buckets are exact
    * integer division on the ns epoch (7·86400·10⁹); the rate divides
    * two exact BIGINTs once, rounded once (the transition-matrix float
    * discipline).
    *
    * Scale shape: the corpus collapses FIRST to distinct (user, week)
    * pairs — one hash aggregate with map-side partials, the dedup that
    * makes raw event volume irrelevant — then the first-week window and
    * the matrix aggregate run over that pre-shrunk table (≤ users ×
    * weeks rows). The week-0 totals come from a window over the tiny
    * matrix itself, never a self-join (a rejoin would plan the user
    * subtree twice — the transition-matrix probe result, reused).
    */
  def cohortMatrixCore(events: DataFrame): DataFrame = {
    val weekNs = 604800000000000L
    val uw = events
      .groupBy(col("user_id"), expr(s"ts DIV $weekNs").as("week"))
      .agg(count(lit(1)).as("__n")).drop("__n")
    val byUser = Window.partitionBy("user_id")
    val byCohort = Window.partitionBy("cohort_week")
    uw.withColumn("w0", min(col("week")).over(byUser))
      .groupBy(col("w0").as("cohort_week"), (col("week") - col("w0")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .withColumn("n0",
        max(when(col("week_offset") === 0, col("n_users"))).over(byCohort))
      .select(col("cohort_week"), col("week_offset"), col("n_users"),
        round(col("n_users").cast("double") / col("n0"), 4).as("retention"))
  }

  private def evtCohortMatrix(s: SparkSession, dir: String): DataFrame =
    cohortMatrixCore(Tables.events(s, dir))
      .orderBy(col("cohort_week"), col("week_offset"))

  /** Inter-arrival DWELL-TIME profile — for each event type, the exact
    * median and max of the seconds since the same user's previous event
    * (any type): the engagement-cadence statistic behind session-gap
    * tuning and bot detection.
    *
    * The scale story is the EXACT quantile without per-group buffering:
    * `percentile()` holds every value of a group in memory, and with 5
    * event types that is 1/5 of the corpus per buffer — the same
    * low-cardinality trap as the naive rolling median. Instead dwell
    * times land in a (type, dwell_s) HISTOGRAM — integer seconds, so
    * distinct values are bounded by the corpus time range, not its row
    * count — and the median is read off the cumulative counts: the two
    * order statistics at 1-based positions (n−1) DIV 2 + 1 and
    * n DIV 2 + 1 average to exactly quantile_cont(0.5) (for odd n they
    * coincide; for even n the 0.5 interpolation IS the midpoint, and
    * halving integer-valued doubles is float-exact). The corpus sees one
    * user-window exchange (the lag) and one partial-aggregating
    * histogram build; every window after that is over the tiny histogram.
    */
  def dwellMedianCore(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val hist = events
      .select(col("event_type"), col("ts"), col("user_id"), col("event_id"))
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .filter(col("prev_ts").isNotNull)
      .select(col("event_type"),
        expr("(ts - prev_ts) DIV 1000000000").as("dwell_s"))
      .groupBy(col("event_type"), col("dwell_s"))
      .agg(count(lit(1)).as("cnt"))
    graft.pipeline.HistogramQuantiles
      .orderStats(hist, "event_type", "dwell_s", 2, Seq(1),
        extra = Seq(max(col("dwell_s")).as("max_s")))
      .select(col("event_type"), col("n"),
        ((col("lo1") + col("hi1")) / 2.0).as("median_s"), col("max_s"))
  }

  private def evtDwellMedian(s: SparkSession, dir: String): DataFrame =
    dwellMedianCore(Tables.events(s, dir)).orderBy(col("event_type"))

  /** Event-type PATH TRIGRAMS — the second-order extension of
    * `evt_transition_matrix` (path mining / UX flow discovery): every
    * 3-step event-type sequence inside a user's ts-ordered stream,
    * counted corpus-wide and ranked most-common-first (ties broken by
    * the path itself, a deterministic total order). Two lags share the
    * transition matrix's ONE user_id exchange; the (t1,t2,t3) aggregate
    * is ≤ |types|³ rows, and the rank is a sort of that tiny table.
    */
  private def evtPathTrigram(s: SparkSession, dir: String): DataFrame = {
    val byTs = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type").as("t3"),
        lag("event_type", 1).over(byTs).as("t2"),
        lag("event_type", 2).over(byTs).as("t1"))
      .filter(col("t1").isNotNull)
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("t1"), col("t2"), col("t3"))
  }

  /** Population-stability-index drift monitor — the distribution-shift
    * gate every production scoring pipeline runs between a reference
    * window and the live window: bin `value`, compare the two windows'
    * bin shares, PSI term per bin = (p_cur − p_ref)·ln(p_cur/p_ref)
    * (Laplace-smoothed so empty bins stay finite). Emitted PER BIN — the
    * attribution a drift alert needs, not just the scalar.
    *
    * Plan (the 100 TB shape): ONE events scan — the ref/cur split is a
    * ts predicate folded into conditional aggregates, and the binning is
    * a FIXED integer-cents grid (least(9, greatest(0, cents·10 div 50000)) —
    * clamped BOTH sides: an out-of-range value lands in an edge bin in
    * both engines, and clamping AFTER the division also absorbs the
    * Spark-DIV-truncates vs DuckDB-//-floors divergence on negative
    * cents, since every negative quotient clamps to 0), so both
    * populations land in one ≤10-row hash aggregate. Production binning
    * swaps the fixed grid for reference quantiles broadcast from the
    * monitoring store — same one-scan plan. The share totals ride an
    * unbounded window over the 10-row bin table (bounded by the grid,
    * the histogram-family posture, never by corpus rows). Float
    * determinism: each term is one ln over identical exact-integer
    * ratios (< 2^53) — the PMI/BM25 discipline — rounded at emission.
    */
  private def evtDriftPsi(s: SparkSession, dir: String): DataFrame =
    driftPsiCore(Tables.events(s, dir)).orderBy(col("bin"))

  /** @param splitNs reference/live boundary (ns epoch) — the oracle key
    *                 pins mid-corpus; a production monitor passes its
    *                 own training-window edge */
  def driftPsiCore(events: DataFrame,
                   splitNs: Long = 1705363200L * 1000000000L): DataFrame = {
    val binned = events.select(
      expr("least(9L, greatest(0L, (cast(round(value * 100) as bigint) * 10) div 50000))")
        .as("bin"),
      (col("ts") < splitNs).as("is_ref"))
    val w = Window.partitionBy(lit(1))
    binned
      .groupBy(col("bin"))
      .agg(
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("ref_n"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cur_n"))
      .withColumn("ref_t", sum(col("ref_n")).over(w))
      .withColumn("cur_t", sum(col("cur_n")).over(w))
      .select(col("bin"), col("ref_n"), col("cur_n"),
        round(
          ((col("cur_n") + 1).cast("double") / (col("cur_t") + 10).cast("double") -
           (col("ref_n") + 1).cast("double") / (col("ref_t") + 10).cast("double")) *
          log(((col("cur_n") + 1).cast("double") / (col("cur_t") + 10).cast("double")) /
              ((col("ref_n") + 1).cast("double") / (col("ref_t") + 10).cast("double"))), 6)
          .as("psi_term"))
  }

  /** Cumulative-unique-users growth curve — per day: new users (first
    * ever touch that day), the running total of distinct users seen so
    * far, and that day's active count. The classic growth-analytics
    * question ("how fast is the distinct-user universe growing?") whose
    * naive form — count(DISTINCT user) OVER (ORDER BY day) — Spark
    * rejects outright and other engines execute as an O(days × users)
    * re-scan.
    *
    * The scale decomposition: cumulative distinct = running sum of
    * FIRST TOUCHES, because each user enters the universe exactly once.
    * One explicit hash(user_id) edge carries the fact ONCE (it serves
    * both the (user, day) dedup — subset-key clustering — and the
    * per-user first-touch window); the day rollup partial-aggregates to
    * ≤ |days| rows per partition before its exchange, and the running
    * sum windows over the calendar-bounded day table (the
    * histogram-family posture — never corpus rows).
    */
  private def evtCumulativeUniques(s: SparkSession, dir: String): DataFrame =
    cumulativeUniquesCore(Tables.events(s, dir)).orderBy(col("day"))

  def cumulativeUniquesCore(events: DataFrame): DataFrame = {
    // explicit hash(user_id) BEFORE the (user, day) dedup: the subset
    // key satisfies the dedup aggregate's clustering AND the per-user
    // first-touch window above it, so the fact crosses ONE wide edge
    // (a groupBy(user, day) would shuffle on BOTH columns and the
    // window would re-shuffle everything on user alone)
    val userDays = events
      .select(col("user_id"), expr("ts DIV 86400000000000").as("day"))
      .repartition(col("user_id"))
      .dropDuplicates("user_id", "day")
    val flagged = userDays
      .withColumn("first_day", min(col("day")).over(Window.partitionBy("user_id")))
    val daily = flagged
      .groupBy(col("day"))
      .agg(
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("new_users"),
        count(lit(1)).as("active_users"))
    daily
      .withColumn("cum_unique_users",
        sum(col("new_users")).over(
          Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("day"), col("new_users"), col("active_users"),
        col("cum_unique_users"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_cumulative_uniques" -> (evtCumulativeUniques _),
    "evt_drift_psi" -> (evtDriftPsi _),
    "evt_path_trigram" -> (evtPathTrigram _),
    "evt_cohort_matrix" -> (evtCohortMatrix _),
    "evt_dwell_median" -> (evtDwellMedian _),
    "evt_transition_matrix" -> (evtTransitionMatrix _),
    "evt_tumbling" -> (evtTumbling _),
    "evt_sliding"  -> (evtSliding _),
    "evt_session"  -> (evtSession _),
    "evt_gapfill"  -> (evtGapfill _),
    "evt_funnel"   -> (evtFunnel _),
    "evt_zscore"   -> (evtZscore _),
    "evt_ohlc"     -> (evtOhlc _),
    "evt_rolling_active" -> (evtRollingActive _))

  val oracle: Map[String, String] = Map(
    // first-touch decomposition restated: distinct (user, day), per-user
    // min day, day rollup, running sum over the day table
    "evt_cumulative_uniques" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
        |  FROM events),
        |f AS (
        |  SELECT user_id, day, min(day) OVER (PARTITION BY user_id) AS first_day
        |  FROM ud),
        |d AS (
        |  SELECT day,
        |    CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
        |    CAST(count(*) AS BIGINT) AS active_users
        |  FROM f GROUP BY day)
        |SELECT day, new_users, active_users,
        |  CAST(sum(new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_unique_users
        |FROM d
        |ORDER BY day""".stripMargin,
    // PSI restated literally: same fixed integer-cents grid, same
    // Laplace-smoothed exact-integer ratios into one ln per bin
    "evt_drift_psi" ->
      """WITH b AS (
        |  SELECT least(9, greatest(0, (CAST(round(value * 100) AS BIGINT) * 10) // 50000)) AS bin,
        |    epoch_ns(ts) < 1705363200000000000 AS is_ref
        |  FROM events
        |), c AS (
        |  SELECT bin,
        |    CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
        |    CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS cur_n
        |  FROM b GROUP BY bin
        |), t AS (
        |  SELECT bin, ref_n, cur_n,
        |    sum(ref_n) OVER () AS ref_t, sum(cur_n) OVER () AS cur_t
        |  FROM c
        |)
        |SELECT bin, ref_n, cur_n,
        |  round(
        |    (CAST(cur_n + 1 AS DOUBLE) / CAST(cur_t + 10 AS DOUBLE) -
        |     CAST(ref_n + 1 AS DOUBLE) / CAST(ref_t + 10 AS DOUBLE)) *
        |    ln((CAST(cur_n + 1 AS DOUBLE) / CAST(cur_t + 10 AS DOUBLE)) /
        |       (CAST(ref_n + 1 AS DOUBLE) / CAST(ref_t + 10 AS DOUBLE))), 6) AS psi_term
        |FROM t
        |ORDER BY bin""".stripMargin,
    // PORTABLE: raw-ts order ≡ ns-long order, no ts emitted (the
    // transition-matrix argument, one more lag deep)
    "evt_path_trigram" ->
      """WITH seq AS (
        |  SELECT event_type AS t3,
        |    lag(event_type, 1) OVER w AS t2,
        |    lag(event_type, 2) OVER w AS t1
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
        |FROM seq WHERE t1 IS NOT NULL
        |GROUP BY t1, t2, t3
        |ORDER BY n DESC, t1, t2, t3""".stripMargin,
    "evt_cohort_matrix" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 604800000000000 AS week
        |  FROM events),
        |c AS (
        |  SELECT user_id, week, min(week) OVER (PARTITION BY user_id) AS w0
        |  FROM uw),
        |m AS (
        |  SELECT w0 AS cohort_week, week - w0 AS week_offset,
        |    CAST(count(*) AS BIGINT) AS n_users
        |  FROM c GROUP BY 1, 2)
        |SELECT cohort_week, week_offset, n_users,
        |  round(CAST(n_users AS DOUBLE)
        |    / max(CASE WHEN week_offset = 0 THEN n_users END)
        |        OVER (PARTITION BY cohort_week), 4) AS retention
        |FROM m
        |ORDER BY cohort_week, week_offset""".stripMargin,
    "evt_dwell_median" ->
      """WITH d AS (
        |  SELECT event_type,
        |    (epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id
        |       ORDER BY ts, event_id)) // 1000000000 AS dwell_s
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  quantile_cont(dwell_s, 0.5) AS median_s,
        |  CAST(max(dwell_s) AS BIGINT) AS max_s
        |FROM d WHERE dwell_s IS NOT NULL
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // PORTABLE: order-by on raw ts ≡ order-by on the canonical ns long,
    // and no ts value is emitted
    "evt_transition_matrix" ->
      """WITH seq AS (
        |  SELECT user_id, event_type AS to_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |                             ORDER BY ts, event_id) AS from_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM seq WHERE from_type IS NOT NULL
        |  GROUP BY from_type, to_type)
        |SELECT from_type, to_type, n,
        |  round(CAST(n AS DOUBLE)
        |    / CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT), 4) AS p
        |FROM c
        |ORDER BY from_type, to_type""".stripMargin,
    "evt_rolling_active" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |ex AS (
        |  SELECT ud.user_id, ud.day AS day0, ud.day + g.o AS day
        |  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS o) g)
        |SELECT ex.day,
        |  count(DISTINCT ex.user_id) AS active_7d,
        |  count(DISTINCT CASE WHEN ex.day0 = ex.day THEN ex.user_id END) AS active_1d
        |FROM ex
        |JOIN days d ON ex.day = d.day
        |GROUP BY ex.day
        |ORDER BY ex.day""".stripMargin,
    "evt_ohlc" ->
      """WITH b AS (
        |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour,
        |    value, ts, event_id
        |  FROM events
        |), r AS (
        |  SELECT event_type, hour, value,
        |    row_number() OVER (PARTITION BY event_type, hour
        |      ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, hour
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM b)
        |SELECT event_type, hour,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(value) AS high,
        |  min(value) AS low,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  count(*) AS n
        |FROM r
        |GROUP BY event_type, hour
        |ORDER BY event_type, hour""".stripMargin,
    "evt_zscore" ->
      """WITH ev AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS v_c
        |  FROM events
        |), m AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(v_c) AS BIGINT) AS s,
        |    sum(CAST(v_c AS DECIMAL(19,0)) * v_c) AS q
        |  FROM ev GROUP BY event_type HAVING count(*) > 1
        |), mm AS (
        |  SELECT event_type, CAST(s AS DOUBLE) / n AS mean_c,
        |    sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)) AS std_c
        |  FROM m
        |), mm2 AS (SELECT * FROM mm WHERE std_c > 0)
        |SELECT ev.event_id, ev.event_type, ev.v_c,
        |  round((ev.v_c - mean_c) / std_c, 4) AS z
        |FROM ev JOIN mm2 USING (event_type)
        |WHERE abs((ev.v_c - mean_c) / std_c) > 2.5
        |ORDER BY event_type, event_id""".stripMargin,
    "evt_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, ts, event_type,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS v_ts
        |  FROM events),
        |s2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > v_ts THEN ts END)
        |    OVER (PARTITION BY user_id) AS c_ts FROM s1),
        |s3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > c_ts THEN ts END)
        |    OVER (PARTITION BY user_id) AS p_ts FROM s2)
        |SELECT user_id,
        |  epoch_ns(min(v_ts)) // 1000000000 AS view_s,
        |  epoch_ns(min(c_ts)) // 1000000000 AS click_s,
        |  epoch_ns(min(p_ts)) // 1000000000 AS purchase_s
        |FROM s3 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "evt_gapfill" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS h, count(*) AS n
        |  FROM events
        |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |bounds AS (
        |  SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
        |grid AS (
        |  SELECT event_type, unnest(generate_series(h0, h1)) AS h FROM bounds)
        |SELECT g.event_type, g.h * 3600 AS h_s, coalesce(hh.n, 0) AS n
        |FROM grid g LEFT JOIN hourly hh ON g.event_type = hh.event_type AND g.h = hh.h
        |ORDER BY g.event_type, h_s""".stripMargin,
    "evt_tumbling" ->
      """SELECT (epoch_ns(ts) // 1000000000) // 3600 * 3600 AS wstart_s,
        |  event_type,
        |  count(*) AS n,
        |  CAST(round(sum(value) * 100) AS BIGINT) AS sum_value_c
        |FROM events
        |GROUP BY wstart_s, event_type
        |ORDER BY wstart_s, event_type""".stripMargin,
    "evt_sliding" ->
      """SELECT wstart_s, event_type, count(*) AS n FROM (
        |  SELECT unnest([b30, b30 - 1800]) AS wstart_s, event_type FROM (
        |    SELECT (epoch_ns(ts) // 1000000000) // 1800 * 1800 AS b30, event_type
        |    FROM events) t1) t2
        |GROUP BY wstart_s, event_type
        |ORDER BY wstart_s, event_type""".stripMargin,
    "evt_session" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS tns,
        |    CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
        |           OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w > 1800000000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), numbered AS (
        |  SELECT user_id, tns,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY tns, event_id
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, session_id,
        |  count(*) AS n_events,
        |  (max(tns) - min(tns)) // 1000000000 AS duration_s,
        |  min(tns) // 1000000000 AS start_s
        |FROM numbered
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin)
}
