package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Throughput benchmark for the reference's actual workload: NMEA log →
  * parsed channels → derived wind → race replay JSON. Generates a
  * deterministic synthetic log (default 1M lines ≈ a full season of
  * race days), runs the full pipeline, prints one JSON line with
  * lines/sec — the apples-to-apples number against a single-process
  * log processor.
  *
  * Usage: runMain graft.MarineBench [nLines] [workDir]
  */
object MarineBench {

  private def checksum(body: String): String =
    f"${body.getBytes("ASCII").foldLeft(0)((a, b) => a ^ b)}%02X"
  private def s(body: String): String = s"$$$body*${checksum(body)}"

  /** One fix = RMC + VHW + MWV + DPT; ~80 days × N fixes, 4 lines per
    * fix. Times walk 1 Hz within a day.
    */
  def generate(path: String, nLines: Long): Unit = {
    val w = Files.newBufferedWriter(Paths.get(path))
    val perFix = 4
    val nFixes = nLines / perFix
    var i = 0L
    while (i < nFixes) {
      val day = i / 20000 // ~20k fixes per "day"
      val tIdx = i % 20000
      val hh = 8 + (tIdx / 3600).toInt; val mm = ((tIdx / 60) % 60).toInt; val ss = (tIdx % 60).toInt
      val t = f"$hh%02d$mm%02d$ss%02d.00"
      // real calendar arithmetic: ddmmyy must roll over month/year
      // correctly or the epoch clock goes non-monotonic on long logs
      val d = java.time.LocalDate.of(2022, 10, 12).plusDays(day)
      val ddmmyy = f"${d.getDayOfMonth}%02d${d.getMonthValue}%02d${d.getYear % 100}%02d"
      val lat = 4739.0 + (i % 997) * 0.001
      val lon = 12225.0 + (i % 991) * 0.001
      val sog = 4.5 + (i % 37) * 0.1
      val awa = if ((i / 600) % 2 == 0) 40.0 + (i % 11) else 320.0 - (i % 11)
      w.write(s(f"GPRMC,$t,A,$lat%.4f,N,$lon%.4f,W,$sog%.1f,210.3,$ddmmyy,,,A")); w.newLine()
      w.write(s(f"IIVHW,208.0,T,194.9,M,${sog - 0.3}%.1f,N,9.6,K")); w.newLine()
      w.write(s(f"IIMWV,$awa%.1f,R,${10.0 + (i % 23) * 0.2}%.1f,N,A")); w.newLine()
      w.write(s(f"IIDPT,${10.0 + (i % 53) * 0.3}%.1f,0.0")); w.newLine()
      i += 1
    }
    w.close()
  }

  def main(args: Array[String]): Unit = {
    val nLines = args.headOption.map(_.toLong).getOrElse(1000000L)
    val workDir = args.lift(1).getOrElse(Files.createTempDirectory("marinebench").toString)
    val logPath = s"$workDir/season.nmea"
    val outPath = s"$workDir/replay"
    generate(logPath, nLines)

    val spark = GraftSession.fromEnv(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup on a slice so codegen compile isn't in the measurement
    marine.Marine.wideTable(marine.Marine.readLog(spark, logPath)
      .limit(1000)).count()

    val t0 = System.nanoTime()
    val parsed = marine.Marine.readLog(spark, logPath)
    val wide = marine.Marine.wideTable(parsed)
    val races = marine.Races.split(wide.filter(col("lat").isNotNull))
    val docs = marine.Races.replayDocs(races,
      Seq("lat", "lon", "sog", "hdg", "tws", "twa", "vmg"))
    docs.write.mode("overwrite").json(outPath)
    val sec = (System.nanoTime() - t0) / 1e9
    // race count read back OUTSIDE the timed window (the measurement is
    // the pipeline + export, not a schema-inferring re-read)
    val nRaces = spark.read.json(outPath).count()

    println(s"""{"metric":"marine_lines_per_sec","value":${(nLines / sec).toLong},"unit":"lines/sec","lines":$nLines,"seconds":${f"$sec%.2f"},"races":$nRaces}""")
    spark.stop()
  }
}
