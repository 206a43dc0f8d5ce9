package graft

/** Physical-plan assertions (SURVEY.md §4): these are the properties that
  * decide 100 TB viability, enforced as tests so a regression in plan
  * shape fails CI, not just the benchmark.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    finalizedPlan(SparkEntry.queries(name)(spark, sf))

  test("scan_projection_pushdown reads only the 2 projected columns") {
    val p = plan("scan_projection_pushdown")
    assert(p.contains("ReadSchema"), p.take(400))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice"),
      s"scan must prune unused columns: $readSchema")
  }

  test("filter_pred pushes predicates into the parquet scan") {
    val p = plan("filter_pred")
    assert(p.contains("PushedFilters: ["), p.take(400))
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("o_totalprice") || pushed.contains("o_custkey"),
      s"expected pushed comparison filters: $pushed")
  }

  test("agg_groupby pushes the shipdate filter and aggregates partially") {
    val p = plan("agg_groupby")
    assert(p.contains("HashAggregate"), "hash aggregation expected")
    assert(p.contains("partial_"), "map-side partial aggregation expected")
    assert(p.linesIterator.exists(l => l.contains("PushedFilters") && l.contains("l_shipdate")),
      "shipdate filter must reach the scan")
  }

  test("join_broadcast plans a BroadcastHashJoin (no shuffle of the probe side)") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
  }

  test("join_asof plans exactly one hash Exchange for the carry-forward") {
    val p = plan("join_asof")
    assert(p.contains("hashpartitioning(user_id"),
      s"as-of must repartition by key: ${p.take(800)}")
    // exactly ONE hash Exchange (the window's); the only other Exchange
    // allowed is the final ORDER BY's rangepartitioning. AQE's toString
    // repeats the plan under "== Initial Plan ==" — count the final only.
    val finalSection = finalPlanSection(p)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(finalSection).size
    assert(hashExchanges == 1,
      s"expected a single hash Exchange, got $hashExchanges: ${finalSection.take(800)}")
  }

  test("limit_topk plans TakeOrderedAndProject, not a global sort") {
    val p = plan("limit_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
  }

  test("dim joins in agg_rollup broadcast both nation and region") {
    val p = plan("agg_rollup")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(800))
  }

  test("explode queries carry no inferred generator filter re-evaluating the array") {
    // InferFiltersFromGenerate duplicates the exploded array expression
    // into a non-codegen Filter (size(...)>0 AND isnotnull(...)), which
    // cost ~5× on the gram/token pipelines in round 2; the operators use
    // explode_outer/posexplode_outer to sidestep it. Guard the plans.
    Seq("dedup_ngram", "dedup_minhash_lsh", "dedup_near_jaccard",
        "text_tfidf_top", "explode_wordcount").foreach { q =>
      val p = plan(q)
      // the harmful signature is `size(<array expr>) > 0` (paired with
      // isnotnull(<array expr>)) — a bare isnotnull(size(...)) inferred
      // from downstream constraints costs one eval per input row and is
      // acceptable
      val badFilter = p.linesIterator.exists(l =>
        l.contains("Filter") && l.contains("size(") && l.contains("> 0") &&
          (l.contains("array_distinct") || l.contains("split(") || l.contains("transform(")))
      assert(!badFilter,
        s"$q regressed to an inferred generator filter over the array expression: ${p.take(600)}")
    }
  }

  test("subq_lateral decorrelates: ranked window join, no per-row subquery") {
    val p = plan("subq_lateral")
    assert(!p.contains("Subquery"),
      s"lateral must be decorrelated out of the physical plan: ${p.take(600)}")
    assert(p.contains("Window") || p.contains("Limit"),
      s"expected the per-nation LIMIT lowered to a ranked join: ${p.take(600)}")
  }

  test("subq_membership plans the NOT IN as one join, not a per-row subquery") {
    val p = plan("subq_membership")
    assert(!p.contains("Subquery"),
      s"membership subqueries must lower to joins: ${p.take(600)}")
    // 124 rows at sf0.001: the null-aware anti + existence joins both ran
    assert(SparkEntry.queries("subq_membership")(spark, sf).count() == 124)
  }

  test("evt_gapfill densifies with one fact scan and no self-join") {
    val p = finalPlanSection(plan("evt_gapfill"))
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"the lead-based fill must read events exactly once: ${p.take(600)}")
    assert(!p.contains("Join"),
      s"sparse-to-dense must not plan a self-join: ${p.take(600)}")
  }

  test("evt_funnel runs the whole funnel on one scan and one hash Exchange") {
    val p = finalPlanSection(plan("evt_funnel"))
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"chained conditional windows must not re-scan per stage: ${p.take(600)}")
    // the three window stages AND the per-user collapse share the
    // user_id partitioning; only the final ORDER BY may add a range
    // Exchange
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1,
      s"funnel must reuse one user_id partitioning, got $shuffles hash Exchanges")
  }

  test("evt_zscore broadcasts the 5-row moments back; one hash Exchange total") {
    val p = finalPlanSection(plan("evt_zscore"))
    assert(p.contains("BroadcastHashJoin"),
      s"the moments join-back must broadcast, never shuffle the events: ${p.take(600)}")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 1,
      s"only the moments aggregate may hash-shuffle, got $shuffles")
  }

  test("text_bigram_pmi builds bigrams without a positional self-join") {
    val p = finalPlanSection(plan("text_bigram_pmi"))
    assert(!p.contains("SortMergeJoin"),
      s"token-level rows must never sort-merge: ${p.take(600)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 must never be a global sort: ${p.take(600)}")
  }

  test("mm_binary_meta is a single scan: no shuffle before the presentation sort") {
    val p = finalPlanSection(plan("mm_binary_meta"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 0,
      s"per-row metadata must not shuffle: ${p.take(600)}")
  }

  test("agg_histogram is one partial/final hash aggregate") {
    val p = finalPlanSection(plan("agg_histogram"))
    assert(p.contains("partial_"), "map-side partial aggregation expected")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"one bucket-key shuffle expected: ${p.take(600)}")
  }

  test("evt_ohlc is one partial/final hash aggregate — no window, no sort before it") {
    val p = finalPlanSection(plan("evt_ohlc"))
    assert(p.contains("HashAggregate") && p.contains("partial_"),
      s"min_by/max_by must partial-aggregate map-side: ${p.take(600)}")
    assert(!p.contains("Window"), s"OHLC must not lower to a window: ${p.take(600)}")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"one (event_type, hour) shuffle expected, got $n")
  }

  test("complex_waiting_suppliers: one fact scan, profile windows ride the collapse exchange") {
    // the whole point of the per-(order, supplier) collapse: profile,
    // only-late-supplier filter, and numwait all derive from one pass.
    // The profile is WINDOWS over the collapsed table, sharing the
    // explicit hash(o_orderkey) repartition with the collapse aggregate
    // — so the fact appears ONCE (no checkpoint, no rejoin) and the only
    // hash exchanges are that repartition plus the final s_name
    // aggregate's.
    val p = finalPlanSection(plan("complex_waiting_suppliers"))
    val liScans = "lineitem\\.parquet".r.findAllIn(p).size
    assert(liScans == 1, s"fact must be scanned exactly once, got $liScans")
    assert(!p.contains("ExistingRDD"),
      s"no checkpoint materialization expected: ${p.take(600)}")
    assert(p.contains("Window"), s"profile windows expected: ${p.take(600)}")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges <= 2,
      s"orderkey repartition + s_name agg only, got $hashExchanges: ${p.take(900)}")
  }

  test("text_bigram_logprob: both corpus statistics ride ONE w1 exchange") {
    // the prefix-count window partitions by w1; the (w1, w2) count
    // window's clustering is satisfied by the same hash(w1), so the
    // wide edges are exactly: per-doc bigram agg, the w1 window, the
    // per-doc fold. The vocab scalar broadcasts (1 row).
    val p = finalPlanSection(plan("text_bigram_logprob"))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"no pairwise or shuffled join anywhere: ${p.take(800)}")
    // 2 main-path edges (the explicit hash(w1) the count AND both
    // windows ride — see bigramLogprobCore — then the doc_id fold) + the
    // vocab subtree's distinct-word dedup; neither window may add one
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 3,
      s"w1 repartition + doc fold + vocab dedup only, got $exchanges: ${p.take(800)}")
    val w1w2Window = "Sort \\[w1#\\d+ ASC NULLS FIRST, w2#\\d+ ASC NULLS FIRST\\], false".r
    assert(w1w2Window.findFirstIn(p).isDefined,
      s"the (w1, w2) window must ride the w1 exchange via a local sort: ${p.take(800)}")
    // the per-doc fold is a spillable window sort, not a collect_list
    // buffer (an ObjectHashAggregate's typed buffer cannot spill)
    assert(!p.contains("ObjectHashAggregate"),
      s"no per-doc collect buffer: ${p.take(800)}")
    val docWindow = ("Sort \\[doc_id#\\d+L? ASC NULLS FIRST, w1#\\d+ ASC NULLS FIRST, " +
      "w2#\\d+ ASC NULLS FIRST\\], false").r
    assert(docWindow.findFirstIn(p).isDefined,
      s"the per-doc running sum must sort by (doc_id, w1, w2): ${p.take(800)}")
  }

  test("win_range_frame_scalable: the r9 fused cumulative read keeps the subtree count down") {
    // the occupied-bucket cumulative and the referenced-id resolution
    // fuse into ONE window over their union (refs from a single
    // explode), and the hi/lo lookups broadcast one canonical aliased
    // relation — the fact and ties subtrees must not multiply back up
    // (pre-rework: 9 scans / 21 exchanges; reworked: 7 / 17)
    val p = finalPlanSection(plan("win_range_frame_scalable"))
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 7, s"subtree duplication crept back: $scans scans")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 17, s"$exchanges hash exchanges: ${p.take(600)}")
    assert(!p.contains("CartesianProduct"), "no pairwise join anywhere")
  }

  test("complex_supplier_variety: broadcast filters at the scan, only the distinct-agg shuffles") {
    // r8 rework: the part filter and the exclusion anti join are both
    // broadcast (exchange-free, scan-side); the only wide edges are the
    // countDistinct's own two-phase expand over part-FILTERED rows —
    // the old explicit (partkey, suppkey) distinct was a full-fact
    // exchange made redundant by the distinct aggregate
    val p = finalPlanSection(plan("complex_supplier_variety"))
    assert(!p.contains("SortMergeJoin"),
      s"both joins must broadcast: ${p.take(600)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2,
      s"countDistinct's two-phase agg only, got $exchanges: ${p.take(800)}")
    assert(p.contains("partial_"), "the distinct agg must partial-aggregate map-side")
  }

  test("evt_rolling_active: one events scan, bounded expansion, no day self-join") {
    // r15: observed-days membership is the active_1d >= 1 filter on the
    // aggregate itself — no distinct-days subtree, no join of any kind,
    // exactly one scan of the fact
    val p = plan("evt_rolling_active")
    assert(!p.contains("Join"), p.take(600))
    assert("Scan parquet".r.findAllIn(finalPlanSection(p)).size == 1,
      "the observed-days list must come from the aggregate, not a second scan")
    assert(!p.contains("CartesianProduct"),
      "the 7-day window must come from bounded expansion, not a range self-join")
  }

  test("agg_mode windows over the counts aggregate, never the fact") {
    // row_number's sort must see one row per (flag, qty) — i.e. a
    // HashAggregate below the Window in the same plan
    val p = finalPlanSection(plan("agg_mode"))
    val aggIdx = p.indexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0, p.take(400))
    assert(p.contains("partial_count"), "fact-side partial aggregation expected")
  }

  test("complex_product_profit broadcasts all three dims; one fact-fact exchange") {
    // the name-filtered part must shrink the fact BEFORE the orderkey
    // shuffle: ≥3 broadcast joins, and the only wide exchanges are the
    // orderkey join and the (nation, year) aggregate
    val p = finalPlanSection(plan("complex_product_profit"))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(600))
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 2, s"expected ≤2 hash exchanges (orderkey join + agg), got $n")
  }

  test("sample_shuffle ranks inside hash buckets — never a single-partition window") {
    // the corpus-sized window must partition by bucket; only the
    // 256-row offset table may see an unpartitioned window
    val p = finalPlanSection(plan("sample_shuffle"))
    assert(p.contains("hashpartitioning(bucket"),
      s"corpus window must shuffle on the hash bucket: ${p.take(600)}")
    val single = "Exchange SinglePartition".r.findAllIn(p).size
    assert(single <= 1, s"only the tiny offset table may single-partition, got $single")
  }

  test("complex_scd2 shares one user_id shuffle across lag, filter, and lead") {
    // the change filter preserves partitioning + sort, so both windows
    // must ride a single Exchange (the other is the final ORDER BY)
    val p = finalPlanSection(plan("complex_scd2"))
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"one user_id shuffle expected, got $n: ${p.take(600)}")
  }

  test("join_interval_native plans a bucketed hash join, never a nested loop") {
    val p = plan("join_interval_native")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"IntervalJoinRewrite must have fired: ${p.take(800)}")
    assert(p.contains("__iv_bucket"), s"bin-bucket key expected: ${p.take(600)}")
    assert(p.contains("partial_count") || p.contains("partial_"),
      "per-window aggregation must partial-aggregate map-side")
  }

  test("join_band_native plans a bucketed hash join, never a nested loop") {
    val p = plan("join_band_native")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"BandJoinRewrite must have fired: ${p.take(800)}")
    // the bucket probe explode and the equi-join it feeds
    assert(p.contains("Generate explode"), p.take(800))
    assert(p.contains("__band_bucket"), p.take(800))
  }

  test("complex_forecast_revenue pushes the shipdate range to the scan; one 1-row agg") {
    val p = plan("complex_forecast_revenue")
    assert(p.linesIterator.exists(l => l.contains("PushedFilters") && l.contains("l_shipdate")),
      s"shipdate range must reach the parquet scan: ${p.take(600)}")
    assert(p.contains("partial_"), "1-row answer must partial-aggregate map-side")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_returnflag"),
      s"Q6 reads 4 columns, not the fact width: $readSchema")
  }

  test("sample_temperature joins only via broadcast — the corpus never sort-merges") {
    val p = plan("sample_temperature")
    val finalSection = finalPlanSection(p)
    // corpus rows reach the filter through broadcast joins (stratum
    // counts + the 1-row totals); the only hash exchanges in the plan
    // carry per-stratum COUNT partials (≤ #strata rows per partition),
    // never corpus rows — at 100 TB the wide side is scan+filter only
    assert(!finalSection.contains("SortMergeJoin"),
      s"corpus must not sort-merge against the tiny sides: ${finalSection.take(800)}")
    assert("BroadcastExchange".r.findAllIn(finalSection).nonEmpty, finalSection.take(800))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(finalSection).size
    assert(hashExchanges <= 2,
      s"only the two stratum-count partial aggs may hash-exchange: ${finalSection.take(800)}")
  }

  test("sample_token_budget cumulates inside buckets — never a single-partition window") {
    val p = plan("sample_token_budget")
    val finalSection = finalPlanSection(p)
    // the corpus window must partition by the bucket; the only
    // SinglePartition exchange allowed feeds the tiny per-bucket offsets
    // window (#buckets rows), mirroring the sample_shuffle audit
    assert(finalSection.contains("hashpartitioning(bucket"),
      s"corpus window must run per bucket: ${finalSection.take(800)}")
    val corpusWindowSingle = finalSection.linesIterator
      .exists(l => l.contains("Window") && l.contains("n_chars") &&
        l.contains("doc_id") && !l.contains("bucket"))
    assert(!corpusWindowSingle,
      s"found a corpus-wide window not keyed by bucket: ${finalSection.take(800)}")
  }

  test("dedup_incremental intersects via the word equi-join, never batch×corpus") {
    val p = plan("dedup_incremental")
    assert(!p.contains("CartesianProduct"),
      s"batch and corpus tokens must equi-join on the word: ${p.take(800)}")
    assert(p.contains("partial_count") || p.contains("partial_"),
      "intersection counts must partial-aggregate map-side")
  }

  test("whole-stage codegen covers the scalar function packs (no UDF opacity)") {
    Seq("fn_string", "fn_math", "fn_conditional", "project_expr", "fn_regex")
      .foreach { q =>
        val p = plan(q)
        // codegen spans print as "WholeStageCodegen" or the "*(n)" prefix
        assert(p.contains("WholeStageCodegen") || p.contains("*("),
          s"$q fell out of codegen: ${p.take(300)}")
        assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
          s"$q must not use UDFs")
      }
  }

  test("fn_regex is scan-bound: no shuffle before the presentation sort") {
    val p = finalPlanSection(plan("fn_regex"))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 0,
      s"a per-row regex projection must not shuffle: ${p.take(600)}")
  }

  test("text_gopher_rules is scan-bound: a per-row rule battery never shuffles") {
    val p = finalPlanSection(plan("text_gopher_rules"))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 0,
      s"a per-row quality filter must not shuffle: ${p.take(600)}")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      "rule battery must stay in codegen expressions")
  }

  test("sample_epochs joins only via broadcast — the corpus never sort-merges") {
    val p = finalPlanSection(plan("sample_epochs"))
    assert(!p.contains("SortMergeJoin"),
      s"corpus must broadcast-join the tiny stratum counts: ${p.take(800)}")
    assert(p.contains("BroadcastExchange"), p.take(800))
    // only per-stratum count partial aggs may hash-exchange (≤ #strata
    // rows each; the counts subtree is planned twice — once for the
    // broadcast join, once under the 1-row max); the corpus itself
    // reaches the explode through scan → broadcast joins only
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges <= 2,
      s"only the stratum-count aggs may hash-exchange: ${p.take(800)}")
    assert(p.contains("Generate explode"),
      "replication must be a generator, not a join against a numbers table")
  }

  test("sim_knn_label broadcasts the neighbor side and group-limits before the rank exchange") {
    val p = finalPlanSection(plan("sim_knn_label"))
    assert(p.contains("BroadcastHashJoin"),
      s"the label-blocked self-join must broadcast the neighbor projection: ${p.take(800)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "blocking must make this an equi-join")
    // rank<=3 must push into WindowGroupLimit so each map task ships only
    // its local top-3 per vec_id, not the full per-label pair fan-out
    assert(p.contains("WindowGroupLimit"),
      s"rank filter must prune map-side via WindowGroupLimit: ${p.take(800)}")
  }

  test("sim_hard_negatives broadcasts the bounded probe slice over one corpus scan") {
    val p = finalPlanSection(plan("sim_hard_negatives"))
    // different-label pairs admit no equi-blocking: the RIGHT plan is a
    // BroadcastNestedLoopJoin whose broadcast side is the 200-row probe
    // slice — linear in corpus size
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(600))
    assert(p.contains("BroadcastExchange"), p.take(600))
    assert(!p.contains("CartesianProduct"),
      "the probe slice must broadcast, never a partitioned cartesian")
    assert(p.contains("WindowGroupLimit"),
      s"rank filter must prune map-side: ${p.take(800)}")
  }

  test("text_boilerplate: per-doc gram dedup in the array, df via ONE gram window, no rejoin") {
    val p = finalPlanSection(plan("text_boilerplate"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"gram df must never come from doc×doc: ${p.take(800)}")
    // r8 rework: array_distinct replaces the (doc, gram) distinct shuffle
    // and a count window over gram replaces the agg-then-rejoin — the
    // whole key is 2 wide edges (gram window + doc_id re-aggregate)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"df is a window over the exploded pairs, not a rejoin: ${p.take(800)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"gram window + doc_id agg only, got $exchanges: ${p.take(800)}")
    assert(p.contains("partial_"), "the doc_id re-aggregate must partial-aggregate map-side")
  }

  test("pipeline_clean composes three linear sub-plans — no all-pairs, one text window") {
    val p = finalPlanSection(plan("pipeline_clean"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"composition must stay equi-joined on doc_id: ${p.take(800)}")
    assert(p.contains("partial_"), "gram df must partial-aggregate map-side")
    // exactly one window (dup survivorship keyed by text — high
    // cardinality at scale); rules and gates are aggregates/scans
    val windows = "Window".r.findAllIn(p).size
    assert(windows >= 1, s"survivorship window expected: ${p.take(600)}")
  }

  test("text_unigram_logprob: one explode, ONE word exchange feeding count AND window") {
    // r9 rework (the tfidf/bigram discipline): the explicit hash(word)
    // repartition satisfies the (doc, word) count's clustering — a
    // subset key — AND the corpus word-count window above it, so the
    // token stream explodes once and crosses exactly 2 wide edges
    // (word; per-doc re-agg) + the presentation sort. The old
    // agg-then-rejoin form exploded twice and shuffled four times.
    val p = finalPlanSection(plan("text_unigram_logprob"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2,
      s"word repartition + per-doc agg only, got $exchanges: ${p.take(800)}")
    val explodes = "Generate explode".r.findAllIn(p).size
    assert(explodes == 1, s"the token stream must explode ONCE, got $explodes")
    assert("Window \\[sum".r.findAllIn(p).nonEmpty &&
      !p.contains("SortMergeJoin"),
      s"corpus counts ride the word window, never a rejoin: ${p.take(600)}")
    assert(p.contains("BroadcastExchange"),
      "the 1-row token total must broadcast, not shuffle the terms")
    assert(!p.contains("CartesianProduct"),
      "the only cross join is the broadcast scalar (BroadcastNestedLoop on 1 row)")
  }

  test("evt_transition_matrix shuffles the fact once — the user window — then tiny aggs") {
    val p = finalPlanSection(plan("evt_transition_matrix"))
    // the lag window's user_id exchange is the only data-sized move;
    // the (from, to) count partial-aggregates map-side after it, and
    // row totals are a window over that ≤|types|² table (a rejoin would
    // plan the fact subtree twice — probed)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges <= 3,
      s"user window + (from,to) agg + the tiny totals window only: ${p.take(800)}")
    assert(p.contains("partial_"), "pair counts must partial-aggregate map-side")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"totals must come from a window over the counts, not a rejoin: ${p.take(600)}")
  }

  test("evt_path_trigram shares the transition matrix's single user shuffle") {
    val p = finalPlanSection(plan("evt_path_trigram"))
    // both lags ride one user_id window exchange; the (t1,t2,t3) agg is
    // ≤ |types|³ rows and the rank sorts that tiny table
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges <= 2,
      s"user window + trigram agg only: ${p.take(800)}")
    assert(p.contains("partial_"), "trigram counts must partial-aggregate map-side")
    val windows = "Window".r.findAllIn(p).size
    assert(windows <= 1, s"both lags must share one Window operator, got $windows")
  }

  test("evt_cohort_matrix pre-shrinks to (user, week) then windows the tiny matrix") {
    val p = finalPlanSection(plan("evt_cohort_matrix"))
    // data-sized moves: the (user, week) dedup agg + the first-week user
    // window; the matrix agg / cohort-totals window run over ≤ users ×
    // weeks rows. No rejoin for the week-0 totals.
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges <= 4,
      s"dedup agg + user window + matrix agg + cohort window only: ${p.take(800)}")
    assert(p.contains("partial_"), "the (user, week) dedup must partial-aggregate map-side")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"week-0 totals must come from a window, not a self-join: ${p.take(600)}")
    assert(!p.contains("Exchange SinglePartition"),
      s"every window here is partitioned — nothing may single-partition: ${p.take(600)}")
  }

  test("evt_dwell_median buffers a histogram, never per-group values") {
    val p = finalPlanSection(plan("evt_dwell_median"))
    // one corpus-sized exchange (the lag window's user partitioning);
    // the histogram build partial-aggregates map-side and every later
    // window/agg is over (type × distinct seconds) rows
    assert(p.contains("hashpartitioning(user_id"),
      s"the lag must ride a user_id exchange: ${p.take(600)}")
    assert(p.contains("partial_"), "histogram counts must partial-aggregate map-side")
    assert(!p.contains("percentile"),
      "median must come from cumulative counts, not a buffering percentile agg")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges <= 4,
      s"user window + histogram agg + type window only: ${p.take(800)}")
  }

  test("join_skew_salted joins on (key, salt) — the hot key spreads over salt buckets") {
    val p = finalPlanSection(plan("join_skew_salted"))
    // the equi-join must carry the deterministic salt beside event_type:
    // reduce-side parallelism is |types|·buckets, not the 5 hot keys
    assert(p.contains("__salt"),
      s"salt column must reach the join keys: ${p.take(800)}")
    assert(!p.contains("CartesianProduct"),
      "salting composes with a plain equi-join, never a product")
  }

  test("agg_mad derives both medians from one histogram — no percentile, one corpus scan") {
    val p = finalPlanSection(plan("agg_mad"))
    assert(!p.contains("percentile"),
      "median and MAD must come from the histogram, not buffering percentile aggs")
    assert(p.contains("partial_"), "histogram counts must partial-aggregate map-side")
    // the deviation histogram derives from the value histogram (broadcast
    // median join), never a second pass over raw events
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 1, s"one corpus scan expected, got $scans: ${p.take(600)}")
    assert(p.contains("BroadcastExchange"),
      "the 5-row medians must broadcast back onto the histogram")
  }

  test("agg_quartiles_scalable reads all three quartiles off one histogram") {
    val p = finalPlanSection(plan("agg_quartiles_scalable"))
    assert(!p.contains("percentile"),
      "quartiles must come from cumulative bin counts, not buffering percentile aggs")
    assert(p.contains("partial_"), "histogram counts must partial-aggregate map-side")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 1, s"one corpus scan expected, got $scans: ${p.take(600)}")
  }

  test("complex_revenue_deciles ranks inside revenue buckets — never a single-partition window") {
    val p = finalPlanSection(plan("complex_revenue_deciles"))
    // the per-customer table windows partitioned by the revenue-range
    // bucket; only the tiny offsets window and the 1-row total agg may
    // single-partition (sample_shuffle/token_budget discipline)
    assert(p.contains("hashpartitioning(bucket"),
      s"the rank window must shuffle on the revenue bucket: ${p.take(800)}")
    val single = "Exchange SinglePartition".r.findAllIn(p).size
    assert(single <= 2,
      s"only the offsets window + 1-row total may single-partition, got $single")
    assert(p.contains("partial_"), "per-customer revenue must partial-aggregate map-side")
  }

  test("sample_balanced ranks inside (lang, md5-bucket) cells — never a per-class-only window") {
    val p = finalPlanSection(plan("sample_balanced"))
    // the corpus window partitions by (lang, md5-prefix bucket) —
    // parallelism = classes × 256 at any scale; the lang-only window in
    // the plan is over the tiny (lang × bucket) offsets aggregate
    assert("hashpartitioning\\(lang#\\d+, bucket".r.findFirstIn(p).isDefined,
      s"the rank window must shuffle on (lang, bucket): ${p.take(800)}")
    val single = "Exchange SinglePartition".r.findAllIn(p).size
    assert(single <= 1,
      s"only the 1-row min-count aggregate may single-partition, got $single")
    assert(!p.contains("SortMergeJoin"),
      s"offsets/target attach by broadcast, the corpus never sort-merges: ${p.take(600)}")
  }

  test("sample_interleave ranks inside (source, bucket) cells — never a per-source-only window") {
    val p = finalPlanSection(plan("sample_interleave"))
    // the corpus window partitions by (source, doc_id-range bucket) —
    // parallelism scales with the corpus, not #sources; the per-source
    // windows in the plan are over the tiny (source × bucket) offsets
    // and the ≤#sources index table
    assert("hashpartitioning\\(source#\\d+, bucket".r.findFirstIn(p).isDefined,
      s"the rank window must shuffle on (source, bucket): ${p.take(800)}")
    val single = "Exchange SinglePartition".r.findAllIn(p).size
    assert(single <= 2,
      s"only the source-index window + 1-row count may single-partition, got $single")
    assert(!p.contains("SortMergeJoin"),
      s"offsets/index/count attach by broadcast, the corpus never sort-merges: ${p.take(600)}")
  }

  test("nested_event_digest is two partial hash aggregates, no window") {
    val p = finalPlanSection(plan("nested_event_digest"))
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      s"hash aggregation expected: ${p.take(600)}")
    assert(p.contains("partial_"), "map-side partial aggregation expected")
    assert(!p.contains("Window"),
      s"the digest must come from aggregates, not a window: ${p.take(600)}")
    // (user_id, event_type) counts then per-user collect: exactly the
    // two keyed hash Exchanges, plus the ORDER BY's range partitioning
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 2,
      s"expected 2 hash Exchanges, got $hashExchanges: ${p.take(800)}")
  }

  test("text_bpe_pairs: pair explode runs over the VOCAB, after the word aggregate") {
    // scale discipline: the adjacent-pair fan-out must sit ABOVE the
    // word groupBy (types, not tokens) — exactly two hash Exchanges
    // (word agg over the token stream, pair agg over a tiny domain),
    // top-50 via TakeOrderedAndProject, never a global sort
    val p = finalPlanSection(plan("text_bpe_pairs"))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 2,
      s"expected word-agg + pair-agg Exchanges only, got $hashExchanges: ${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 must plan TakeOrderedAndProject: ${p.take(600)}")
    assert(p.contains("partial_"), "both aggregates must partial-aggregate map-side")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "no join anywhere in the pair-count plan")
  }

  test("sim_kmeans_assign: in-row argmin — assignment itself shuffles nothing") {
    // the centroid table folds to ONE broadcast row; the argmin is an
    // array_min over the in-row distance transform, so the ONLY hash
    // Exchange is the per-cluster stats aggregate (8 groups). An
    // `groupBy(vec_id).agg(min(struct))` argmin would move 8·N rows
    // through a non-partial-aggregable exchange — the 100 TB trap.
    val p = finalPlanSection(plan("sim_kmeans_assign"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 1-row candidate array must broadcast: ${p.take(600)}")
    assert(!p.contains("CartesianProduct"),
      s"the cross join must not plan a shuffled CartesianProduct: ${p.take(600)}")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"per-cluster stats is the only hash Exchange, got $hashExchanges: ${p.take(800)}")
    assert(p.contains("vector_dist_sq"),
      s"distances must run through the codegen'd VectorDistSq: ${p.take(800)}")
  }

  test("sim_kmeans_update: in-row argmin, then one (cid, pos) aggregate — no membership branch") {
    // the member count rides the component aggregate (count per
    // (cid, pos) = members), so there is NO join and exactly 2 hash
    // Exchanges: the (cid, pos) sums (map-side partial collapses each
    // partition to ≤ 8×64 rows) and the final cid rollup
    val p = finalPlanSection(plan("sim_kmeans_update"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no membership rejoin: ${p.take(600)}")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 2,
      s"(cid,pos) sums + cid rollup only, got $hashExchanges: ${p.take(800)}")
    assert(p.contains("partial_"), "component sums must partial-aggregate map-side")
    assert(p.contains("vector_dist_sq"), "assignment through VectorDistSq")
  }

  test("quality_profile: every column's stats ride ONE scan (no per-column pass)") {
    val p = finalPlanSection(plan("quality_profile"))
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"one orders scan for all columns, got $scans: ${p.take(800)}")
    assert(p.contains("Expand"),
      "multi-distinct resolves via Expand (the documented exact-answer price)")
    assert(p.contains("Generate"), "the 1-row unpivot explodes driver-free")
  }

  test("text_vocab_coverage: count-of-counts — no vocab-wide window, no corpus rank") {
    // the coverage curve must come from the (count, n_types) class table:
    // exchanges are the word counts + the tiny class agg (plus the final
    // ORDER BY range); the budget probe broadcasts. A global vocab rank
    // would plan a vocab-wide single-partition window — the 100 TB trap.
    val p = finalPlanSection(plan("text_vocab_coverage"))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges <= 3,
      s"word counts + class agg (+window) only, got $hashExchanges: ${p.take(800)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the budget theta-join must broadcast the class table: ${p.take(600)}")
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("sim_ivf_topk: one broadcast artifact row, zero hash exchanges before TakeOrdered") {
    // centroids + probe ride ONE 1-row broadcast; assignment, the
    // probe's nprobe-cluster cut, and the cosine all resolve in-row on
    // one corpus scan — the IVF probe's whole point is that nothing
    // shuffles until the bounded top-k
    val p = finalPlanSection(plan("sim_ivf_topk"))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 0,
      s"nothing may shuffle before TakeOrdered, got $hashExchanges: ${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not global-sort")
    assert(!p.contains("CartesianProduct"),
      s"the artifact row must broadcast: ${p.take(600)}")
    assert(p.contains("vector_dist_sq"), "distances through the codegen'd VectorDistSq")
  }

  test("text_tfidf_top: ONE word exchange feeds the tf count AND the df window") {
    // r9: same discipline as unigram/bigram — the explicit hash(word)
    // repartition serves both the (doc, word) aggregate (subset key)
    // and the document-frequency window, so the token stream crosses
    // one wide edge before TakeOrdered
    val p = finalPlanSection(plan("text_tfidf_top"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1,
      s"the word repartition is the only hash Exchange, got $exchanges: ${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"), "top-100 must not global-sort")
    assert(!p.contains("SortMergeJoin"),
      s"df rides the window, never a rejoin: ${p.take(600)}")
  }

  test("evt_cumulative_uniques: the fact crosses ONE user edge; day table windows tiny") {
    // hash(user_id) serves the (user, day) dedup AND the first-touch
    // window; the day rollup partial-aggregates before its (tiny)
    // exchange; the running sum's SinglePartition window holds ≤ |days|
    // calendar rows, never corpus rows
    val p = finalPlanSection(plan("evt_cumulative_uniques"))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 2,
      s"user repartition + day rollup only, got $hashExchanges: ${p.take(800)}")
    assert(p.contains("partial_"), "day counts must partial-aggregate map-side")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"first-touch is a window, never a rejoin: ${p.take(600)}")
  }

  test("evt_drift_psi: one events scan, one ≤10-row bin aggregate") {
    // ref/cur split folds into conditional aggregates — a two-scan
    // union would double the 100 TB read
    val p = finalPlanSection(plan("evt_drift_psi"))
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"one events scan for both populations, got $scans: ${p.take(800)}")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"the bin aggregate is the only hash Exchange, got $hashExchanges: ${p.take(800)}")
    assert(p.contains("partial_"), "bin counts must partial-aggregate map-side")
  }
}
