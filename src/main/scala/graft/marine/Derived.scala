package graft.marine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Derived sailing channels (SURVEY.md §2.10): true wind from apparent,
  * VMG, great-circle distance. Pure trig column expressions — public
  * physics, no UDFs, fully codegen'd.
  */
object Derived {

  /** True wind speed from apparent wind + boat speed (law of cosines):
    * tws² = aws² + bs² − 2·aws·bs·cos(awa).  awa in degrees, 0 = bow.
    */
  def tws(aws: Column, awa: Column, bs: Column): Column =
    sqrt(aws * aws + bs * bs - lit(2.0) * aws * bs * cos(radians(awa)))

  /** True wind angle (signed like AWA: starboard positive):
    * twa = atan2(aws·sin(awa), aws·cos(awa) − bs).
    */
  def twa(aws: Column, awa: Column, bs: Column): Column =
    degrees(atan2(aws * sin(radians(awa)), aws * cos(radians(awa)) - bs))

  /** True wind direction: heading + TWA, normalised to [0, 360). */
  def twd(hdg: Column, twaDeg: Column): Column =
    pmod(hdg + twaDeg, lit(360.0))

  /** Apparent wind back from true — inverse used by the property tests.
    * aws² = tws² + bs² + 2·tws·bs·cos(twa).
    */
  def awsFromTrue(twsC: Column, twaC: Column, bs: Column): Column =
    sqrt(twsC * twsC + bs * bs + lit(2.0) * twsC * bs * cos(radians(twaC)))

  def awaFromTrue(twsC: Column, twaC: Column, bs: Column): Column =
    degrees(atan2(twsC * sin(radians(twaC)), twsC * cos(radians(twaC)) + bs))

  /** Velocity made good toward the wind (upwind positive). */
  def vmg(sog: Column, twaDeg: Column): Column =
    sog * cos(radians(twaDeg))

  /** Haversine great-circle distance in meters (R = 6371008.8 m). */
  def haversineM(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(2.0 * 6371008.8) * asin(sqrt(a))
  }

  /** A boat polar: target boat speed (kn) on a (TWS, |TWA|) grid.
    * `targets(i)(j)` pairs with `twsLevels(i)` × `twaLevels(j)`; both
    * level axes must be strictly increasing. The default is a generic
    * 35-foot-keelboat-shaped polar (public-knowledge curve shape): slow
    * close-hauled, fastest reaching, slightly off downwind.
    */
  final case class Polar(twsLevels: Seq[Double], twaLevels: Seq[Double],
                         targets: Seq[Seq[Double]]) {
    require(twsLevels.size == targets.size &&
      targets.forall(_.size == twaLevels.size), "polar grid shape mismatch")
    require(twsLevels.sliding(2).forall(p => p.size < 2 || p(0) < p(1)) &&
      twaLevels.sliding(2).forall(p => p.size < 2 || p(0) < p(1)),
      "polar axes must be strictly increasing")
  }

  val defaultPolar: Polar = Polar(
    twsLevels = Seq(6.0, 8.0, 10.0, 12.0, 16.0, 20.0),
    twaLevels = Seq(40.0, 52.0, 60.0, 75.0, 90.0, 110.0, 120.0, 135.0, 150.0, 165.0),
    targets = Seq(
      Seq(3.9, 4.6, 4.9, 5.2, 5.4, 5.5, 5.4, 5.0, 4.4, 3.9),
      Seq(4.7, 5.4, 5.7, 6.0, 6.2, 6.3, 6.2, 5.8, 5.2, 4.6),
      Seq(5.2, 5.9, 6.2, 6.5, 6.7, 6.9, 6.8, 6.4, 5.9, 5.3),
      Seq(5.5, 6.2, 6.5, 6.8, 7.0, 7.3, 7.2, 6.9, 6.4, 5.8),
      Seq(5.8, 6.5, 6.8, 7.2, 7.5, 7.9, 8.0, 7.8, 7.3, 6.7),
      Seq(5.9, 6.6, 7.0, 7.4, 7.8, 8.4, 8.6, 8.5, 8.1, 7.5)))

  /** Clamped index of the last level ≤ x, as a 1-based array position
    * capped so a bracket [i, i+1] always exists (outside-range inputs
    * clamp to the edge cells — the standard polar-table convention).
    */
  private def bracketLo(levels: Seq[Double], x: Column): Column =
    greatest(lit(1), least(lit(levels.size - 1),
      size(filter(typedlit(levels), l => l <= x))))

  /** Linear fraction of x inside [levels(lo), levels(lo+1)], clamped to
    * [0, 1] so out-of-range inputs hold the edge value.
    */
  private def frac(levels: Seq[Double], lo: Column, x: Column): Column = {
    val a = element_at(typedlit(levels), lo)
    val b = element_at(typedlit(levels), lo + 1)
    greatest(lit(0.0), least(lit(1.0), (x - a) / (b - a)))
  }

  /** Target boat speed off the polar by BILINEAR interpolation over
    * (TWS, |TWA|) — the performance baseline every sailing-analytics
    * pipeline compares real boatspeed against. Pure Column arithmetic
    * over literal arrays (codegen'd, no UDF, deterministic): bracket
    * each axis, interpolate the two TWA cuts at the bracketing TWS
    * rows, then interpolate between rows. Inputs outside the grid clamp
    * to the edge (polar-table convention).
    */
  def polarTarget(twsKn: Column, twaDeg: Column,
                  polar: Polar = defaultPolar): Column = {
    val twaAbs = abs(twaDeg)
    val i = bracketLo(polar.twsLevels, twsKn)
    val j = bracketLo(polar.twaLevels, twaAbs)
    val fi = frac(polar.twsLevels, i, twsKn)
    val fj = frac(polar.twaLevels, j, twaAbs)
    val m = typedlit(polar.targets)
    def cell(r: Column, c: Column) = element_at(element_at(m, r), c)
    val lo = cell(i, j) * (lit(1.0) - fj) + cell(i, j + 1) * fj
    val hi = cell(i + 1, j) * (lit(1.0) - fj) + cell(i + 1, j + 1) * fj
    lo * (lit(1.0) - fi) + hi * fi
  }

  /** Percent-of-polar performance: real boatspeed over target. */
  def polarPerformance(bsKn: Column, twsKn: Column, twaDeg: Column,
                       polar: Polar = defaultPolar): Column =
    bsKn / polarTarget(twsKn, twaDeg, polar)

  /** Load a polar from the long-form grid table polars actually ship as
    * (one row per (tws, twa) cell, e.g. a CSV export of a VPP run). The
    * grid — hundreds of cells — collects to the driver by design: the
    * polar is a broadcast-sized model artifact, not data. Refuses an
    * incomplete grid loudly: a silently-missing cell would make
    * [[polarTarget]] interpolate against the wrong neighbor.
    */
  def polarFromDataFrame(grid: org.apache.spark.sql.DataFrame,
                         twsCol: String = "tws", twaCol: String = "twa",
                         bsCol: String = "target_bs"): Polar = {
    val cells = grid.select(col(twsCol).cast("double"),
        col(twaCol).cast("double"), col(bsCol).cast("double"))
      .collect()
      .map(r => ((r.getDouble(0), r.getDouble(1)), r.getDouble(2)))
    require(cells.nonEmpty, "empty polar grid")
    require(cells.map(_._1).distinct.length == cells.length,
      "duplicate (tws, twa) cells in the polar grid")
    val byCell = cells.toMap
    val twsLevels = cells.map(_._1._1).distinct.sorted.toSeq
    val twaLevels = cells.map(_._1._2).distinct.sorted.toSeq
    val missing = for {
      t <- twsLevels; a <- twaLevels if !byCell.contains((t, a))
    } yield (t, a)
    require(missing.isEmpty,
      s"polar grid incomplete — missing cells: ${missing.take(5).mkString(", ")}" +
        (if (missing.size > 5) s" (+${missing.size - 5} more)" else ""))
    Polar(twsLevels, twaLevels,
      twsLevels.map(t => twaLevels.map(a => byCell((t, a)))))
  }
}
