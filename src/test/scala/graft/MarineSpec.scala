package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.marine.{Derived, Marine, Nmea, Races}

/** Golden-file + invariant tests for the marine module (SURVEY.md §2.10,
  * FIXTURES.md §B). The fixture log is generated deterministically here
  * — sentences composed field-first with computed checksums, never
  * hand-typed hex.
  */
object NmeaFixture {

  def checksum(body: String): String =
    f"${body.getBytes("ASCII").foldLeft(0)((a, b) => a ^ b)}%02X"

  /** "$" + body + "*hh" with a correct checksum. */
  def sentence(body: String): String = s"$$$body*${checksum(body)}"

  /** Two races: 10 fixes at 1 Hz from 14:43:26, a 40-min gap, 5 more
    * fixes. VHW/MWV/DPT interleaved after each fix. One bad-checksum
    * line and one truncated line that the parser must reject.
    */
  def day1: Seq[String] = {
    def fix(i: Int, hh: Int, mm: Int, ss: Int): Seq[String] = {
      val t = f"$hh%02d$mm%02d$ss%02d.00"
      val lat = 4739.1234 + i * 0.01
      val lon = 12225.5678 + i * 0.01
      Seq(
        sentence(f"GPRMC,$t,A,$lat%.4f,N,$lon%.4f,W,${5.0 + (i % 3) * 0.5}%.1f,210.3,121022,,,A"),
        sentence(f"IIVHW,208.0,T,194.9,M,${5.2 + (i % 2) * 0.2}%.1f,N,9.6,K"),
        // alternate tacks: AWA flips side every 5 fixes
        sentence(f"IIMWV,${if ((i / 5) % 2 == 0) 42.0 else 318.0}%.1f,R,11.3,N,A"),
        sentence(f"IIDPT,${12.7 + i * 0.1}%.1f,0.0"),
        sentence(f"GPGGA,$t,$lat%.4f,N,$lon%.4f,W,1,08,1.0,4.2,M,,,,"),
        sentence(f"IIHDG,195.2,,,16.1,E"),
        sentence(f"IIVWR,042.0,R,11.3,N,5.8,M,20.9,K"))
    }
    val race1 = (0 until 10).flatMap(i => fix(i, 14, 43, 26 + i))
    val race2 = (0 until 5).flatMap(i => fix(10 + i, 15, 30, i))
    race1 ++
      Seq("$GPRMC,150000.00,A,4739.0000,N,12225.0000,W,5.0,210.0,121022,,,A*00", // bad checksum
          "$GPRMC,1500") ++                                                      // truncated
      race2
  }

  def write(dir: String): String = {
    val p = Paths.get(dir, "day1.nmea")
    Files.createDirectories(p.getParent)
    Files.write(p, day1.mkString("\n").getBytes("UTF-8"))
    p.toString
  }
}

class MarineSpec extends SparkSpec {

  private lazy val logPath =
    NmeaFixture.write(Files.createTempDirectory("nmea").toString)
  private lazy val parsed = Marine.readLog(spark, logPath)
  // the first clock tick: the fixture's fix 0 and the sentences after it
  private lazy val firstTick = Marine.wideTable(parsed).orderBy("ts").head()

  test("checksum: valid sentences pass, corrupted and truncated are rejected") {
    val all = Nmea.parseAll(
      spark.read.text(logPath).withColumn("line_no", monotonically_increasing_id()))
    assert(all.count() == 107)                     // 15 fixes × 7 + 2 bad
    assert(all.filter(!col("valid")).count() == 2) // exactly the 2 bad lines
    assert(parsed.count() == 105)
  }

  test("coordinate conversion: 4739.1234,N → 47.65206°") {
    assert(math.abs(firstTick.getAs[Double]("lat") - (47 + 39.1234 / 60)) < 1e-9)
    assert(math.abs(firstTick.getAs[Double]("lon") - -(122 + 25.5678 / 60)) < 1e-9)
  }

  test("RMC timestamps assemble date+time correctly") {
    // 1665585806 s = 2022-10-12T14:43:26Z
    assert(firstTick.getAs[Double]("ts") == 1665585806.0)
  }

  test("wide table decodes VHW, MWV and DPT fields by position") {
    assert(firstTick.getAs[Double]("hdg") == 208.0)
    assert(firstTick.getAs[Double]("stw") == 5.2)
    assert(firstTick.getAs[Double]("awa") == 42.0)
    assert(firstTick.getAs[Double]("aws") == 11.3)
    assert(firstTick.getAs[Double]("depth") == 12.7)
  }

  test("wide table aligns channels onto the RMC clock with carry-forward") {
    val wide = Marine.wideTable(parsed)
    val rows = wide.orderBy("ts").collect()
    assert(rows.length == 15)
    rows.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("lat")))
      assert(!r.isNullAt(r.fieldIndex("aws")), "apparent wind carried onto every tick")
    }
  }

  test("true wind golden case: AWA 42°, AWS 11.3 kn, STW 5.2 kn") {
    // hand-computed wind triangle (law of cosines / atan2):
    // tws = sqrt(11.3² + 5.2² − 2·11.3·5.2·cos42°) = sqrt(67.395) ≈ 8.2095
    // twa = atan2(11.3·sin42°, 11.3·cos42° − 5.2) = atan2(7.5612, 3.1975) ≈ 67.08°
    val tws = firstTick.getAs[Double]("tws")
    val twa = firstTick.getAs[Double]("twa")
    assert(math.abs(tws - 8.2095) < 0.01, s"tws=$tws")
    assert(math.abs(twa - 67.08) < 0.05, s"twa=$twa")
  }

  test("race split: >30-min gap separates the day into 2 races") {
    val races = Races.split(Marine.wideTable(parsed))
    val ids = races.select("race_id").distinct().collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(Array(1L, 2L)))
    val n = races.groupBy("race_id").count().orderBy("race_id").collect()
    assert(n(0).getLong(1) == 10 && n(1).getLong(1) == 5)
  }

  test("maneuver detection: scripted AWA side-flips appear as maneuvers") {
    val races = Races.split(Marine.wideTable(parsed))
    val m = Races.maneuvers(races).collect()
    assert(m.nonEmpty, "the fixture scripts TWA sign flips every 5 fixes")
    m.foreach(r => assert(Set("tack", "gybe", "mixed")(r.getString(2))))
  }

  test("race stats: positive distance, sane speed bounds, maneuvers counted") {
    val stats = Races.stats(Races.split(Marine.wideTable(parsed))).collect()
    assert(stats.length == 2)
    stats.foreach { r =>
      assert(r.getDouble(r.fieldIndex("distance_m")) > 0)
      assert(r.getDouble(r.fieldIndex("max_sog")) <= 6.5)
      assert(r.getLong(r.fieldIndex("n_maneuvers")) >= 0)
    }
  }

  test("race stats count each race's maneuvers in the one pass over its input") {
    val races = Races.split(Marine.wideTable(parsed))
    val stats = Races.stats(races)
    val counted = stats.select("race_id", "n_maneuvers").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val detected = Races.maneuvers(races).groupBy("race_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // race 1 flips its AWA side once; race 2 never does
    assert(counted == Map(1L -> detected(1L), 2L -> 0L))
    assert(!detected.contains(2L))
    val plan = finalPlanSection(finalizedPlan(stats))
    assert("FileScan".r.findAllMatchIn(plan).size == 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("replay export: nested docs with ordered sample arrays, json-writable") {
    val docs = Marine.replayFromLog(spark, logPath)
    val rows = docs.collect()
    assert(rows.length == 2)
    val meta = rows.head.getStruct(0)
    assert(meta.getLong(meta.fieldIndex("n_samples")) == 10)
    val samples = rows.head.getSeq[org.apache.spark.sql.Row](1)
    val tss = samples.map(_.getDouble(0))
    assert(tss == tss.sorted, "samples must be time-ordered")
    // prove it serialises
    val json = docs.toJSON.collect()
    assert(json.head.contains("\"meta\""))
  }

  test("haversine: symmetric, zero at identity, ~111 km per degree lat") {
    val df = spark.range(1).select(
      Derived.haversineM(lit(47.0), lit(-122.0), lit(48.0), lit(-122.0)).as("d1"),
      Derived.haversineM(lit(48.0), lit(-122.0), lit(47.0), lit(-122.0)).as("d2"),
      Derived.haversineM(lit(47.0), lit(-122.0), lit(47.0), lit(-122.0)).as("d0"))
    val r = df.head()
    assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-6)
    assert(r.getDouble(2) == 0.0)
    assert(math.abs(r.getDouble(0) - 111195) < 200)
  }
}
