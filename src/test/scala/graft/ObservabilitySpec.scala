package graft

import org.apache.spark.sql.functions._

/** Planted-defect tests for the observability keys: the oracle certifies
  * them on the (clean) testdata; these make the rules' semantics visible
  * by planting violations and checking each one lands in exactly the
  * right counter.
  */
class ObservabilitySpec extends SparkSpec {
  import java.sql.Timestamp

  test("quality_expectations counts each planted violation in its own rule") {
    import spark.implicits._
    val clean = (1L to 20L).map(i =>
      (i, 100L + i, "F", 1000.0 + i, Timestamp.valueOf("1995-06-01 00:00:00"), "1-URGENT"))
    val planted = Seq(
      (21L, 121L, "F", -5.0, Timestamp.valueOf("1995-06-01 00:00:00"), "1-URGENT"),   // price
      (22L, 122L, "X", 1000.0, Timestamp.valueOf("1995-06-01 00:00:00"), "1-URGENT"), // status
      (23L, 123L, "F", 1000.0, Timestamp.valueOf("1995-06-01 00:00:00"), "URGENT"),   // format
      (24L, 124L, "F", 1000.0, Timestamp.valueOf("1985-01-01 00:00:00"), "1-URGENT"), // date
      (1L, 125L, "F", 1000.0, Timestamp.valueOf("1995-06-01 00:00:00"), "1-URGENT"))  // dup key
    val df = (clean ++ planted).toDF("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val r = graft.operators.CoreQueries.expectationsCore(df).head()
    assert(r.getLong(0) == 25, "n_rows")
    assert(r.getLong(1) == 1, s"price violations: $r")
    assert(r.getLong(2) == 1, s"status violations: $r")
    assert(r.getLong(3) == 1, s"priority format violations: $r")
    assert(r.getLong(4) == 1, s"date violations: $r")
    assert(r.getLong(5) == 1, s"duplicate keys: $r")
  }

  test("quality_profile: synthesized nulls and distincts land per column") {
    import spark.implicits._
    val df = Seq(
      (1L, 10L, "F", 100.0, Timestamp.valueOf("1995-06-01 00:00:00"), "3-MEDIUM"),
      (2L, 97L, "O", 200.0, Timestamp.valueOf("1995-06-01 00:00:00"), "1-URGENT"),
      (3L, 194L, "F", 300.0, Timestamp.valueOf("1995-06-01 00:00:00"), "2-HIGH"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val rows = graft.operators.CoreQueries.qualityProfileCore(df)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    // status: 'F' nullified twice; custkey%97: 0 nullified twice (97, 194)
    assert(rows("okey") == (3L, 0L, 3L, "1", "3"))
    assert(rows("status_or_null") == (3L, 2L, 1L, "O", "O"))
    assert(rows("cust_bucket") == (3L, 2L, 1L, "10", "10"))
    assert(rows("prio_or_null") == (3L, 1L, 2L, "1-URGENT", "2-HIGH"))
  }

  test("cumulative-uniques first-touch decomposition equals brute distinct counting") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // random sparse activity: 60 users × up to 8 active days over a month
    val events = (1L to 60L).flatMap { u =>
      (1 to 1 + rnd.nextInt(8)).map { _ =>
        val day = rnd.nextInt(30).toLong
        (u, day * 86400000000000L + rnd.nextInt(1000000) * 1000L)
      }
    }
    val df = events.toDF("user_id", "ts")
    val got = graft.operators.EventTimeQueries.cumulativeUniquesCore(df)
      .orderBy("day").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // brute: per day, distinct users that day; cumulative = distinct
    // users over ALL days ≤ d — the definition, not the decomposition
    val byDay = events.map { case (u, ts) => (math.floorDiv(ts, 86400000000000L), u) }
    val days = byDay.map(_._1).distinct.sorted
    val exp = days.map { d =>
      val active = byDay.filter(_._1 == d).map(_._2).distinct.size.toLong
      val cum = byDay.filter(_._1 <= d).map(_._2).distinct.size.toLong
      val prior = byDay.filter(_._1 < d).map(_._2).distinct.toSet
      val fresh = byDay.filter(_._1 == d).map(_._2).distinct.count(!prior.contains(_)).toLong
      (d, fresh, active, cum)
    }
    assert(got.toSeq == exp, s"got ${got.toSeq}\nexp $exp")
  }

  test("momentsCore shape statistics match a driver-side replay on random groups") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = (1 to 500).map { i =>
      val st = Seq("A", "B", "C")(i % 3)
      // skewed values: squares of uniforms, scaled to the orders range
      val v = math.pow(rnd.nextDouble(), 2) * 500000
      (i.toLong, st, v)
    }
    val df = rows.map { case (k, st, v) => (k, k, st, v,
        Timestamp.valueOf("1995-06-01 00:00:00"), "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val got = graft.operators.AggQueries.momentsCore(df)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    rows.groupBy(_._2).foreach { case (st, rs) =>
      val vs = rs.map(t => math.floor(t._3 / 1000).toLong)
      val n = vs.size.toDouble
      def m(p: Int) = vs.map(v => math.pow(v.toDouble, p)).sum / n
      val mean = m(1)
      val varp = m(2) - mean * mean
      val skew = (m(3) - 3 * mean * m(2) + 2 * mean * mean * mean) / (varp * math.sqrt(varp))
      val kurt = (m(4) - 4 * mean * m(3) + 6 * mean * mean * m(2) -
        3 * mean * mean * mean * mean) / (varp * varp) - 3.0
      val (gn, gm, gv, gs, gk) = got(st)
      assert(gn == vs.size)
      assert(math.abs(gm - mean) < 1e-3 && math.abs(gv - varp) < 1e-2 &&
        math.abs(gs - skew) < 1e-3 && math.abs(gk - kurt) < 1e-3,
        s"$st: got ($gm,$gv,$gs,$gk) exp ($mean,$varp,$skew,$kurt)")
      // a squared-uniform distribution is right-skewed — the statistic
      // must SAY so, not just match arithmetic (the thousand-bucketing
      // coarsens small samples, so the bound is direction, not size)
      assert(gs > 0.2, s"$st skew should be positive: $gs")
    }
  }

  test("GraftRecorder counts the jobs, stages and tasks between a reset and a settle") {
    val sc = spark.sparkContext
    val recorder = GraftRecorder.attach(sc)
    try {
      recorder.reset()
      sc.parallelize(1 to 9, 3).count()
      sc.parallelize(1 to 9, 3).count()
      val c = recorder.settle()
      assert((c.jobs, c.stages, c.tasks) == (2L, 2L, 6L), c)
      assert(c.taskMs >= c.maxTaskMs, c)
      recorder.reset()
      assert(recorder.settle() == JobCounters())
    } finally sc.removeSparkListener(recorder)
  }
}
