package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.marine.{Marine, Races}

/** Multi-boat (fleet) marine pipeline: one file per boat, every stage
  * partitioned by boat_id — the parallel scale path
  * `Marine.wideTableByKey` promises.
  */
class FleetSpec extends SparkSpec {

  private lazy val fleetDir: String = {
    val dir = Files.createTempDirectory("fleet").toString
    Seq("alpha", "bravo", "charlie").foreach { boat =>
      Files.write(Paths.get(dir, s"$boat.nmea"),
        NmeaFixture.day1.mkString("\n").getBytes("UTF-8"))
    }
    dir
  }

  test("fleet read tags every sentence with its boat") {
    val parsed = Marine.readFleet(spark, fleetDir)
    val boats = parsed.select("boat_id").distinct().collect().map(_.getString(0)).sorted
    assert(boats.sameElements(Array("alpha", "bravo", "charlie")))
    assert(parsed.count() == 3 * 105)
  }

  test("keyed wide table aligns each boat independently and in parallel") {
    val wide = Marine.wideTableByKey(Marine.readFleet(spark, fleetDir), Seq("boat_id"))
    val rows = wide.collect()
    assert(rows.length == 3 * 15, "15 ticks per boat")
    // per-boat result identical to the single-boat pipeline
    val solo = Marine.wideTable(Marine.readLog(spark,
        NmeaFixture.write(Files.createTempDirectory("solo").toString)))
      .select("ts", "tws", "twa", "vmg").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    Seq("alpha", "bravo", "charlie").foreach { boat =>
      val b = wide.filter(col("boat_id") === boat)
        .select("ts", "tws", "twa", "vmg").collect()
        .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
      assert(b == solo, s"boat $boat must match the single-boat pipeline")
    }
    // and the plan must hash-partition on boat_id, not single-partition
    val plan = wide.queryExecution.executedPlan.toString()
    assert(plan.contains("hashpartitioning(boat_id"),
      s"fleet windows must partition by boat: ${plan.take(500)}")
  }

  test("keyed race split keeps races inside their boat") {
    val wide = Marine.wideTableByKey(Marine.readFleet(spark, fleetDir), Seq("boat_id"))
    val races = Races.splitByKey(wide.filter(col("lat").isNotNull), Seq("boat_id"))
    val perBoat = races.groupBy("boat_id")
      .agg(countDistinct("race_id").as("n_races"), count(lit(1)).as("n_samples"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(perBoat.size == 3)
    perBoat.values.foreach { case (nRaces, nSamples) =>
      assert(nRaces == 2 && nSamples == 15)
    }
  }

  test("keyed maneuvers/stats/replay stay inside their boat end-to-end") {
    val wide = Marine.wideTableByKey(Marine.readFleet(spark, fleetDir), Seq("boat_id"))
    val races = Races.splitByKey(wide.filter(col("lat").isNotNull), Seq("boat_id"))
    // solo references
    val soloRaces = Races.split(Marine.wideTable(Marine.readLog(spark,
      NmeaFixture.write(Files.createTempDirectory("solo2").toString)))
      .filter(col("lat").isNotNull))
    val soloManeuvers = Races.maneuvers(soloRaces).count()
    val soloStats = Races.stats(soloRaces)
      .select("race_id", "n_samples", "n_maneuvers").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // fleet: each boat must reproduce the solo numbers exactly
    val m = Races.maneuversByKey(races, Seq("boat_id"))
    assert(m.groupBy("boat_id").count().collect()
      .forall(_.getLong(1) == soloManeuvers),
      "per-boat maneuver count must equal the single-boat pipeline")
    val st = Races.statsByKey(races, Seq("boat_id"))
    Seq("alpha", "bravo", "charlie").foreach { boat =>
      val b = st.filter(col("boat_id") === boat)
        .select("race_id", "n_samples", "n_maneuvers").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(b == soloStats, s"boat $boat stats diverge: $b vs $soloStats")
    }
    val docs = Races.replayDocsByKey(races, Seq("boat_id"),
      Seq("lat", "lon", "sog", "tws", "twa", "vmg"))
    assert(docs.count() == 6, "3 boats x 2 races")
  }
}
