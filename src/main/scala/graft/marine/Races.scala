package graft.marine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Race segmentation, maneuver detection, summaries, replay export
  * (SURVEY.md §2.10). Input is the wide aligned channel table from
  * `Marine.wideTable`: (ts seconds, lat, lon, sog, hdg, twa, tws, ...).
  */
object Races {

  /** Split a day into races: gaps-and-islands sessionization on the
    * sample clock — a new race starts after `gapSeconds` of silence
    * (same machinery as evt_session; SURVEY.md §2.10 race_split).
    */
  def split(samples: DataFrame, gapSeconds: Double = 1800): DataFrame =
    splitByKey(samples, Nil, gapSeconds)

  /** Keyed variant: sessions computed independently per key (boat) —
    * the windows hash-partition on the key, so a fleet splits in
    * parallel.
    */
  def splitByKey(samples: DataFrame, keys: Seq[String],
                 gapSeconds: Double = 1800): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy("ts")
    samples
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_race",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapSeconds, 1L)
          .otherwise(0L))
      .withColumn("race_id",
        sum("new_race").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("prev_ts", "new_race")
  }

  /** Tacks/gybes: the true-wind angle changes sign between consecutive
    * samples (bow or stern through the wind). Emits one row per maneuver
    * with entry/exit speeds and the speed-rebuild cost.
    *
    * kind: tack when |TWA| < 90 on both sides (bow through wind),
    * gybe when |TWA| > 90 on both sides, else mixed.
    */
  def maneuvers(races: DataFrame): DataFrame = maneuversByKey(races, Nil)

  /** Keyed variant — fleet data must partition by (boat, race): race_ids
    * restart at 1 per boat, so race_id alone collides across boats.
    */
  def maneuversByKey(races: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy((keys :+ "race_id").map(col): _*).orderBy("ts")
    races
      .withColumn("prev_twa", lag("twa", 1).over(w))
      .withColumn("prev_sog", lag("sog", 1).over(w))
      .filter(isManeuver(col("twa"), col("prev_twa")))
      .select(
        (keys.map(col) :+ col("race_id")) ++ Seq(
        col("ts").as("maneuver_ts"),
        when(abs(col("twa")) < 90 && abs(col("prev_twa")) < 90, "tack")
          .when(abs(col("twa")) > 90 && abs(col("prev_twa")) > 90, "gybe")
          .otherwise("mixed").as("kind"),
        col("prev_twa"), col("twa"),
        col("prev_sog").as("entry_sog"),
        col("sog").as("exit_sog"),
        (col("prev_sog") - col("sog")).as("speed_loss")): _*)
  }

  /** The maneuver test on one sample and its predecessor in the race:
    * the true-wind angle changes sign, both sides clear of a ±5° dead
    * band. `maneuversByKey` filters on it and `statsByKey` counts it.
    */
  private def isManeuver(twa: Column, prevTwa: Column): Column =
    prevTwa.isNotNull && signum(twa) =!= signum(prevTwa) &&
      abs(twa) > 5 && abs(prevTwa) > 5

  /** Per-race summary statistics (SURVEY.md §2.10 race_stats): duration,
    * distance (haversine between consecutive fixes), speed and wind
    * ranges, maneuver count.
    */
  def stats(races: DataFrame): DataFrame = statsByKey(races, Nil)

  /** One window (the lags of lat, lon and twa) and one aggregate: the
    * maneuver count rides the same pass as the distance, so the input
    * plan runs once. A group whose key is null gets its true maneuver
    * count (an equi-join against `maneuversByKey` would give it 0);
    * neither `race_id` nor `boat_id` is ever null.
    */
  def statsByKey(races: DataFrame, keys: Seq[String]): DataFrame = {
    val grp = keys :+ "race_id"
    val w = Window.partitionBy(grp.map(col): _*).orderBy("ts")
    races
      .withColumn("leg_m",
        Derived.haversineM(lag("lat", 1).over(w), lag("lon", 1).over(w),
          col("lat"), col("lon")))
      .withColumn("maneuver", isManeuver(col("twa"), lag("twa", 1).over(w)))
      .groupBy(grp.map(col): _*)
      .agg(
        count(lit(1)).as("n_samples"),
        (max("ts") - min("ts")).as("duration_s"),
        round(sum("leg_m"), 1).as("distance_m"),
        round(max("sog"), 2).as("max_sog"),
        round(avg("sog"), 2).as("avg_sog"),
        round(min("tws"), 2).as("min_tws"),
        round(max("tws"), 2).as("max_tws"),
        count(when(col("maneuver"), 1)).as("n_maneuvers"))
      .orderBy(grp.map(col): _*)
  }

  /** Per-race polar-performance summary (SURVEY.md §2.10 polar_targets'
    * race-level rollup): each sample's boatspeed against its bilinear
    * polar target, aggregated per race — average and best percent of
    * polar plus the share of samples sailed at ≥ 90% (the number a
    * coach actually reads). One scan-level expression per sample, one
    * keyed aggregate — the race_stats plan shape.
    */
  def performanceByKey(races: DataFrame, keys: Seq[String],
                       polar: Derived.Polar = Derived.defaultPolar): DataFrame = {
    val grp = keys :+ "race_id"
    races
      .withColumn("perf",
        Derived.polarPerformance(col("sog"), col("tws"), col("twa"), polar))
      .groupBy(grp.map(col): _*)
      .agg(
        count(lit(1)).as("n_samples"),
        round(avg("perf") * 100, 1).as("avg_pct_polar"),
        round(max("perf") * 100, 1).as("best_pct_polar"),
        round(sum(when(col("perf") >= 0.9, 1L).otherwise(0L)) * 100.0 /
          count(lit(1)), 1).as("pct_samples_above_90"))
      .orderBy(grp.map(col): _*)
  }

  def performance(races: DataFrame): DataFrame = performanceByKey(races, Nil)

  /** Replay JSON export (SURVEY.md §2.10 replay_export): one nested doc
    * per race — meta + ordered sample array — ready for
    * `.write.json(...)`. sort_array on (ts, struct) keeps the sample
    * order deterministic without a per-group sort shuffle.
    */
  def replayDocs(races: DataFrame, channels: Seq[String]): DataFrame =
    replayDocsByKey(races, Nil, channels)

  def replayDocsByKey(races: DataFrame, keys: Seq[String],
                      channels: Seq[String]): DataFrame = {
    val grp = keys :+ "race_id"
    val sampleStruct = struct((col("ts") +: channels.map(col)): _*)
    races
      .groupBy(grp.map(col): _*)
      .agg(
        min("ts").as("start_ts"),
        max("ts").as("end_ts"),
        count(lit(1)).as("n_samples"),
        array_sort(collect_list(sampleStruct)).as("samples"))
      .select(
        struct((grp.map(col) ++ Seq(col("start_ts"), col("end_ts"), col("n_samples"))): _*).as("meta"),
        col("samples"))
      .orderBy(grp.map(k => col(s"meta.$k")): _*)
  }

}
