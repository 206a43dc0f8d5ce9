package graft

/** SQL front-end: the engine's surface is the DataFrame API, but the
  * same plans are reachable through `spark.sql`. Proof: for every oracle
  * key whose DuckDB SQL is ANSI-portable, the UNMODIFIED oracle string
  * runs on this engine over temp views and returns exactly the rows and
  * column names of the DataFrame implementation — one SQL text, three
  * engines in agreement (our DataFrame plan, our SQL plan, DuckDB).
  *
  * Excluded keys use DuckDB dialect the demo is not about papering over:
  * `//` integer division (subq_scalar_uncorr), epoch_ns / TIMESTAMP_NS
  * arithmetic (the windowed/gapfill/funnel evt keys, win_lag_lead,
  * join_asof — but evt_zscore never touches ts and IS portable),
  * list_* / string_split / strpos (fn_* packs, dedup/text list math),
  * quantile_cont, sha256, hex-literal casts (sample_*), and DuckDB's
  * in-args `ORDER BY` / `IGNORE NULLS` placements (agg_string,
  * win_nth_value).
  */
class SqlFrontendSpec extends SparkSpec {

  private val portable = Seq(
    "scan_parquet", "scan_projection_pushdown",
    "project_expr", "filter_pred", "filter_null_handling",
    "join_inner", "join_broadcast", "join_left", "join_right", "join_full",
    "join_semi", "join_anti", "join_cross", "join_theta_range",
    "subq_scalar_corr", "subq_lateral", "subq_membership",
    "agg_groupby", "agg_global", "agg_distinct", "agg_having",
    "agg_rollup", "agg_cube", "agg_grouping_sets", "agg_pivot",
    "agg_stats", "agg_minmax_by", "agg_count_if",
    "win_rank", "win_topk_per_group", "win_running", "win_sliding_rows",
    "win_range_frame", "win_analytic", "win_first_last",
    "sort_multi", "limit_topk", "limit_offset",
    "set_union_all", "set_union_distinct", "set_intersect", "set_except",
    "fn_conditional",
    "dedup_exact", "text_lang_stats",
    "evt_zscore", "complex_nation_volume", "complex_big_orders",
    "dedup_edit_distance",
    "win_range_frame_scalable", "agg_bit", "reshape_unpivot",
    "agg_regression", "complex_returned_revenue", "complex_promo_share",
    "complex_priority_buckets", "complex_bracket_filter",
    "complex_market_share",
    "complex_order_priority", "complex_cust_distribution",
    "complex_small_qty_revenue", "complex_waiting_suppliers",
    "complex_sales_opportunity", "agg_mode", "join_band_native",
    "complex_product_profit", "complex_top_supplier",
    "complex_supplier_variety",
    "complex_forecast_revenue", "sample_token_budget",
    "complex_regional_revenue", "evt_transition_matrix",
    "complex_revenue_deciles", "sample_interleave", "join_skew_salted",
    "evt_path_trigram", "agg_robust_outliers", "agg_weighted_median",
    "dedup_stats", "sample_balanced", "etl_merge", "quality_profile",
    "quality_expectations", "agg_moments")

  private def registerViews(): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => Tables.table(spark, sf, t).createOrReplaceTempView(t))
    // the CANONICAL events surface (ts normalized to ns BIGINT, the
    // Tables contract): evt_zscore, evt_transition_matrix and
    // evt_path_trigram read it, at most ordering by ts and never
    // emitting it, so ns order and the DataFrame plans' order agree
    Tables.events(spark, sf).createOrReplaceTempView("events")
  }

  test("portable oracle SQL runs unchanged via spark.sql and matches the DataFrame plans") {
    registerViews()
    val failures = portable.flatMap { key =>
      val sql = SparkEntry.oracleSql(key)
      try {
        val viaSql = spark.sql(sql)
        val viaDf = SparkEntry.queries(key)(spark, sf)
        val sqlCols = viaSql.columns.map(_.toLowerCase).toSeq
        val dfCols = viaDf.columns.map(_.toLowerCase).toSeq
        if (sqlCols != dfCols)
          Some(s"$key: columns $sqlCols vs $dfCols")
        else {
          val a = viaSql.collect()
          val b = viaDf.collect()
          if (a.length != b.length) Some(s"$key: ${a.length} vs ${b.length} rows")
          else a.zip(b).collectFirst {
            case (ra, rb) if ra != rb => s"$key: first differing row $ra vs $rb"
          }
        }
      } catch {
        case e: Exception =>
          Some(s"$key: ${e.getClass.getSimpleName} ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
      }
    }
    assert(failures.isEmpty,
      s"${failures.size}/${portable.size} portable keys diverged:\n${failures.mkString("\n")}")
  }

  test("the portable set covers at least half the oracle inventory") {
    val missing = portable.filterNot(SparkEntry.oracleSql.contains)
    assert(missing.isEmpty, s"whitelist names unknown keys: $missing")
    // ≥ half is the demo heuristic: the DuckDB oracle, not this spec,
    // certifies every key, so a dialect-heavy key family tipping this to
    // exactly 50% is fine — this guard only keeps the second engine
    // check on the DataFrame plans from going thin. Keys whose
    // oracle READS A FILE (read_csv/read_json/read_parquet — the
    // roundtrip and unicode-slice keys) are structurally non-portable
    // (Spark SQL has no such TVFs) and leave the denominator: the guard
    // exists to catch the portable set ERODING, not to fail on file-
    // bound inventory growth. Rounding-tolerant on an odd inventory.
    val fileBound = SparkEntry.oracleSql.count { case (_, sql) =>
      Seq("read_csv(", "read_json(", "read_parquet(").exists(sql.contains)
    }
    assert(portable.size * 2 >= SparkEntry.oracleSql.size - fileBound - 1,
      "SQL front-end demo should cover at least half the inventory")
  }
}
