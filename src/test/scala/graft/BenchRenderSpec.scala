package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench stdout contract: the driver parses a fixed-size stdout TAIL, so the
  * machine-read total line must be last and short, and failed queries must be
  * named explicitly rather than summed as a -1 sentinel.
  */
class BenchRenderSpec extends AnyFunSuite {

  test("total line is compact, last-line-parseable, and excludes failures") {
    val results = Seq("q_ok" -> 1.25, "q_broken" -> -1.0, "q_also_ok" -> 0.75)
    val (queriesLine, totalLine) = Bench.render(results, "/root/testdata/sf0.1")
    // honest total: only the successful queries, never the -1 sentinel
    assert(totalLine.contains("\"value\":2.000"))
    assert(totalLine.contains("\"failed\":[\"q_broken\"]"))
    // the total line must fit any plausible tail window on its own
    assert(totalLine.length <= 160, s"total line too long: ${totalLine.length}")
    // per-query detail lives on the other line, not the total line —
    // ms-rounded (the tail window cuts the line's head; shorter values
    // keep ~2x the keys visible), full precision in the file artifact
    assert(queriesLine.contains("\"q_ok\":1.250"))
    assert(!totalLine.contains("q_ok"))
  }

  test("per-key artifact keeps full precision and the summary fields") {
    val results = Seq("q_ok" -> 1.256823555, "q_broken" -> -1.0)
    val reason = new IllegalStateException("no column \"x\"\nin plan").toString
    val json = Bench.perKeyJson(results, "/sf", reasons = Map("q_broken" -> reason))
    assert(json.contains("\"q_ok\":1.256823555"))
    assert(json.contains("\"failed\":[\"q_broken\"]"))
    // the reason is the exception class and message, JSON-escaped
    assert(json.contains("\"reasons\":{\"q_broken\":" +
      "\"java.lang.IllegalStateException: no column \\\"x\\\"\\nin plan\"}"), json)
    assert(json.contains("\"total\":1.257"))
    assert(json.contains("\"n\":2"))
  }

  test("quiet-floor ratio reads only the queries map, whatever else the artifact carries") {
    val floor = Seq("q_a" -> 1.0, "q_b" -> 2.0, "q_c" -> 4.0)
    val run = Seq("q_a" -> 3.0, "q_b" -> 2.0, "q_c" -> 2.0) // ratios 3, 1, 0.5
    val plain = Bench.perKeyJson(floor, "/sf")
    // decimal phase timings and counters beside (and after) the queries map
    val layered = Bench.perKeyJson(floor, "/sf", layers = floor.map { case (k, v) =>
      k -> Bench.KeyRun(v, 7.25, Map("analysis" -> 3L, "planning" -> 5L),
        JobCounters(jobs = 2, tasks = 9, taskMs = 40))
    }.toMap)
    assert(layered.contains("\"layers\":{\"q_a\":{\"construct_ms\":7.250,\"analyze_ms\":3," +
      "\"optimize_ms\":-1,\"plan_ms\":5,\"jobs\":2,"), layered)
    assert(Bench.ratioVsQuietFloor(run, plain) == 1.0)
    assert(Bench.ratioVsQuietFloor(run, layered) == 1.0)
    assert(Bench.ratioVsQuietFloor(run, "") == -1.0)
  }

  test("per-query stdout values are locale-independent") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY) // comma-decimal
      val (queriesLine, _) = Bench.render(Seq("q" -> 1.5), "sf")
      assert(queriesLine.contains("\"q\":1.500"), queriesLine)
    } finally java.util.Locale.setDefault(prev)
  }

  test("no failures yields an empty failed list and a <=130-char line") {
    val many = (1 to 96).map(i => f"query_name_$i%03d" -> 0.3)
    val (_, totalLine) = Bench.render(many, "/root/testdata/sf0.1")
    assert(totalLine.contains("\"failed\":[]"))
    assert(totalLine.contains("\"failed_n\":0"))
    assert(totalLine.length <= 130, s"total line too long: ${totalLine.length}")
    assert(totalLine.startsWith("""{"metric":"total""""))
  }

  test("an all-failed round keeps the total line bounded: 30 names + a count") {
    val many = (1 to 98).map(i => f"very_long_query_name_$i%03d" -> -1.0)
    val (_, totalLine) = Bench.render(many, "/root/testdata/sf0.1")
    assert(totalLine.contains("\"failed_n\":98"))
    // only the first 30 names are listed (with an explicit "..." marker),
    // so the line cannot approach the driver's 2000-char tail window no
    // matter how many queries break
    assert(totalLine.contains("very_long_query_name_030"))
    assert(!totalLine.contains("very_long_query_name_031"))
    assert(totalLine.contains("\"...\""))
    assert(totalLine.length <= 1100, s"total line too long: ${totalLine.length}")
  }

  test("a realistic failure count lists every name: failed matches failed_n") {
    val many = (1 to 13).map(i => f"broken_$i%02d" -> -1.0) ++ Seq("q_ok" -> 0.5)
    val (_, totalLine) = Bench.render(many, "/root/testdata/sf0.1")
    assert(totalLine.contains("\"failed_n\":13"))
    (1 to 13).foreach(i => assert(totalLine.contains(f"broken_$i%02d")))
    assert(!totalLine.contains("\"...\""))
  }

  test("total formatting is locale-independent") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY) // comma-decimal
      val (_, totalLine) = Bench.render(Seq("q" -> 1.5, "r" -> 0.25), "sf")
      assert(totalLine.contains("\"value\":1.750"), totalLine)
    } finally java.util.Locale.setDefault(prev)
  }
}
