package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.marine.{Marine, Races}

/** Canonical golden-JSON derivations for the marine pipeline
  * (FIXTURES.md §B): each stage ordered by an explicit total key and
  * rendered with Spark's row-JSON (schema field order, UTC session,
  * nulls omitted) — byte-stable for a fixed fixture + codebase.
  *
  * `MarineGoldenWriter` regenerates the golden files under
  * `src/test/resources/nmea/` after an INTENTIONAL semantics change:
  *   sbt "Test/runMain graft.MarineGoldenWriter"
  * MarineGoldenFilesSpec diffs current outputs against the committed
  * files, so an unintended change shows up as a file-level diff.
  */
object MarineGolden {

  def stages(spark: SparkSession, logPath: String): Seq[(String, DataFrame)] = {
    val parsed = Marine.readLog(spark, logPath)
    val wide = Marine.wideTable(parsed)
    val races = Races.split(wide)
    Seq(
      "parsed" -> parsed.orderBy(col("line_no")),
      "channels" -> wide.orderBy(col("ts")),
      "truewind" -> wide
        .select(col("ts"), col("aws"), col("awa"), col("stw"),
          col("tws"), col("twa"), col("twd"))
        .orderBy(col("ts")),
      "maneuvers" -> Races.maneuvers(races).orderBy(col("race_id"), col("ts")),
      "races" -> Races.stats(races).orderBy(col("race_id")),
      "replay" -> Marine.replayFromLog(spark, logPath)
        .orderBy(col("meta.race_id")))
  }

  def render(df: DataFrame): String = df.toJSON.collect().mkString("\n") + "\n"

  val resourceDir = "src/test/resources/nmea"
}

/** Dev tool — regenerates the golden files in-place. */
object MarineGoldenWriter {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(4, 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val log = NmeaFixture.write(Files.createTempDirectory("nmea").toString)
    Files.createDirectories(Paths.get(MarineGolden.resourceDir))
    MarineGolden.stages(spark, log).foreach { case (name, df) =>
      val p = Paths.get(MarineGolden.resourceDir, s"$name.golden.json")
      Files.write(p, MarineGolden.render(df).getBytes("UTF-8"))
      println(s"wrote $p")
    }
    spark.stop()
  }
}

class MarineGoldenFilesSpec extends SparkSpec {

  private lazy val logPath =
    NmeaFixture.write(Files.createTempDirectory("nmea").toString)

  private val stageNames =
    Seq("parsed", "channels", "truewind", "maneuvers", "races", "replay")

  for (name <- stageNames) {
    test(s"$name matches its committed golden file") {
      val df = MarineGolden.stages(spark, logPath).collectFirst {
        case (`name`, d) => d
      }.get
      val got = MarineGolden.render(df)
      // classpath first (cwd-independent); file fallback covers the
      // regenerate-then-test flow before resources are recopied
      val want = Option(getClass.getResourceAsStream(s"/nmea/$name.golden.json"))
        .map(is => try new String(is.readAllBytes(), "UTF-8") finally is.close())
        .getOrElse(new String(
          Files.readAllBytes(Paths.get(MarineGolden.resourceDir, s"$name.golden.json")),
          "UTF-8"))
      assert(got == want,
        s"$name drifted from its golden file — if intentional, regenerate " +
          s"""with sbt "Test/runMain graft.MarineGoldenWriter"""")
    }
  }
}
