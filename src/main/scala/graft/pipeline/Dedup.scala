package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-path deduplication APIs (the oracle-checked twins live in
  * graft.operators.{PipelineQueries,DedupQueries}; these are the forms
  * you run at 100 TB).
  *
  * Differences from the oracle twins, deliberately:
  *  - hashing is xxhash64 (codegen'd, ~10× md5 throughput) — fine when
  *    the result only has to be self-consistent, not cross-engine;
  *  - MinHash signatures are built in ONE pass with array expressions
  *    (no explode → K-row blowup, no per-seed shuffle);
  *  - the only shuffles are groupBy(band, bucket) over candidates —
  *    never a token×token self-join.
  */
object Dedup {

  /** Distinct non-empty single-space tokens — THE tokenization for every
    * signature and for the Jaccard confirm (one definition, so the
    * LSH-candidate/confirm contract cannot desynchronize). The literal
    * single-space split deliberately matches the oracle twins
    * (`string_split(text, ' ')` in DuckDB SQL) and
    * `streaming/DedupStream.tokensOf` — round-6 advice flagged that a
    * `\s+` regex here would silently desynchronize the batch scale path
    * from its certified twins on text containing tabs/newlines/double
    * spaces. Change all three together or none.
    */
  private def tokensOf(textCol: Column): Column =
    Tokenize.whitespaceTokens(textCol)

  /** Exact dedup, deterministic survivor (min id): one hash-partitioned
    * aggregate keyed by the text. (A hash-only shuffle with in-group
    * confirm would need a second pass to resolve 64-bit collisions; at
    * the oracle scale the direct groupBy is both simpler and exact.)
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .drop(textCol)

  /** K minhashes in a single projection: distinct tokens → per-seed
    * hash → array_min. No explode, no extra shuffle.
    */
  def minhashSignature(textCol: Column, k: Int): Column = {
    // component `seed` = min over the doc's distinct non-empty tokens of
    // xxhash64(token, seed); every component is null for a doc with no tokens
    val tokens = tokensOf(textCol)
    val sig = (0 until k).map { seed =>
      array_min(transform(tokens, t => xxhash64(t, lit(seed))))
    }
    array(sig: _*)
  }

  /** (doc_id, band, bucket) rows — the shared banding for every LSH
    * consumer. Buckets are xxhash64 of the band slice: 64-bit, so false
    * bucket collisions between unrelated docs are ~n²/2⁶⁵ (a 32-bit
    * bucket id would already collide at ~10⁵ docs — tolerable where a
    * Jaccard confirm follows, fatal where bucket co-membership feeds
    * clustering directly).
    */
  private def bandBucketsFromSig(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    require(bands > 0 && k % bands == 0 && k / bands > 0,
      s"signature length $k must divide into $bands non-empty bands")
    val rows = k / bands
    sig.select(
      col("doc_id"),
      posexplode_outer(array((0 until bands).map(b =>
        xxhash64(slice(col("sig"), b * rows + 1, rows))): _*)).as(Seq("band", "bucket")))
  }

  private def bandBuckets(df: DataFrame, idCol: String, textCol: String,
                          k: Int, bands: Int): DataFrame =
    bandBucketsFromSig(
      df.select(col(idCol).as("doc_id"), minhashSignature(col(textCol), k).as("sig")),
      k, bands)

  /** Fast per-component banding: ONE string hash per token, then k
    * cheap 8-byte re-hashes (`xxhash64(baseHash, component)`) — each
    * signature component stays an independent per-component minimum, so
    * banding keeps the classic minhash collision guarantees (a bottom-k
    * sketch, the k smallest hashes of one hash function, does NOT: one
    * low-hashing token shifts every later position).
    * Built in two projections so the base hash array is materialized
    * once: CollapseProject refuses to inline a non-cheap alias
    * referenced k times, which is exactly what keeps the string hashing
    * single-pass.
    */
  private[graft] def fastBandBuckets(df: DataFrame, idCol: String, textCol: String,
                              k: Int, bands: Int): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"),
      transform(tokensOf(col(textCol)), t => xxhash64(t)).as("__h"))
    val sig = base.select(col("doc_id"),
      array((0 until k).map(j =>
        array_min(transform(col("__h"), h => xxhash64(h, lit(j))))): _*).as("sig"))
    bandBucketsFromSig(sig, k, bands)
  }

  /** Banded LSH candidate pairs: docs sharing any band bucket.
    * rowsPerBand * bands must equal the signature length.
    */
  def lshCandidates(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 16, bands: Int = 4): DataFrame = {
    val buckets = bandBuckets(df, idCol, textCol, k, bands)
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  /** End-to-end near-dup: LSH candidates + exact Jaccard confirm.
    * The confirm joins token sets ONLY for candidate pairs.
    *
    * Probed r16 and REVERTED: the count-confirm that fixed the
    * dedup_minhash_lsh key (shared-word equi-joins + aggregate instead
    * of per-pair array_intersect) measured 2.3× WORSE here — 13.4 →
    * 31.4 s on the 5k ScaleBench slice, 24.2 → 44.4 s on
    * incremental_dedup_50k — because this corpus's candidate volume is
    * ~2.8M pairs and the confirm's token fan-out becomes pairs×|A|
    * ≈ 280M join+aggregate rows, dwarfing the double array_intersect it
    * removes. Count-confirm pays only when candidates are few relative
    * to tokens-per-doc (the oracle key's ~36k); per-pair arrays win on
    * high-duplication corpora. Peak task memory was IDENTICAL both ways
    * (the 529 MB sits in the bucket-join distinct, not the arrays).
    */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
                     threshold: Double, k: Int = 16, bands: Int = 4): DataFrame = {
    val cand = lshCandidates(df, idCol, textCol, k, bands)
    val toks = df.select(col(idCol).as("doc_id"), tokensOf(col(textCol)).as("toks"))
    cand
      .join(toks.select(col("doc_id").as("a_id"), col("toks").as("ta")), "a_id")
      .join(toks.select(col("doc_id").as("b_id"), col("toks").as("tb")), "b_id")
      .withColumn("jac",
        size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb"))))
      .filter(col("jac") >= threshold)
      .select(col("a_id"), col("b_id"), col("jac"))
  }

  /** INCREMENTAL near-dup at scale: each batch doc's best corpus match
    * (max Jaccard ≥ threshold, min corpus id on ties) with banded-LSH
    * blocking — the scale twin of the `dedup_incremental` oracle key's
    * exact word-intersection confirm. Candidates are batch docs sharing
    * ANY band bucket with a corpus doc, so pairwise work is
    * Σ_bucket n_batch·n_corpus — bounded by bucket occupancy, never
    * batch × corpus. At deployment the corpus side of the bucket join is
    * the PERSISTED LSH index (written once at ingest, like the
    * quantized-ANN store): per-run cost is hashing the batch plus the
    * candidate confirms, and the corpus is never re-paired — the
    * property that makes continuous crawls dedupable at 100 TB.
    */
  def incrementalBestMatch(batch: DataFrame, corpus: DataFrame, idCol: String,
                           textCol: String, threshold: Double,
                           k: Int = 16, bands: Int = 4): DataFrame = {
    val bBuckets = fastBandBuckets(batch, idCol, textCol, k, bands)
      .withColumnRenamed("doc_id", "n_id")
    val cBuckets = fastBandBuckets(corpus, idCol, textCol, k, bands)
      .withColumnRenamed("doc_id", "o_id")
    val cand = bBuckets.join(cBuckets, Seq("band", "bucket"))
      .select(col("n_id"), col("o_id")).distinct()
    val bToks = batch.select(col(idCol).as("n_id"), tokensOf(col(textCol)).as("tn"))
    val cToks = corpus.select(col(idCol).as("o_id"), tokensOf(col(textCol)).as("tc"))
    cand.join(bToks, "n_id").join(cToks, "o_id")
      .withColumn("jac",
        size(array_intersect(col("tn"), col("tc"))).cast("double") /
          size(array_union(col("tn"), col("tc"))))
      .filter(col("jac") >= threshold)
      .groupBy(col("n_id"))
      .agg(max_by(struct(col("o_id"), col("jac")),
        struct(col("jac"), (-col("o_id")).as("neg"))).as("b"))
      .select(col("n_id"), col("b.o_id").as("dup_of"), col("b.jac").as("jaccard"))
  }

  /** [[incrementalBestMatch]] with EXACT-COLLAPSE first — the form a
    * production pipeline runs. On a corpus with heavy verbatim
    * duplication, bucket-pair candidates are Σ_bucket n_batch·n_corpus:
    * c verbatim copies on each side multiply that bucket's pairs by c²
    * (measured: the 10×-replicated ScaleBench corpus, where every text
    * has 10 copies, pushed the uncollapsed form past 10 minutes at a
    * mere 50k docs). Collapsing each side to one representative per
    * distinct text (min id — the content-hash index every exact-dedup
    * stage already maintains) removes the c² factor while preserving
    * semantics EXACTLY: equal texts share one signature, so per-rep
    * candidates are per-doc candidates, Jaccard is text-pure, and the
    * min-id tie-break over reps equals the tie-break over docs (each
    * rep IS its group's min id). Batch docs map back through their
    * representative afterwards.
    */
  def incrementalBestMatchCollapsed(batch: DataFrame, corpus: DataFrame,
                                    idCol: String, textCol: String,
                                    threshold: Double,
                                    k: Int = 16, bands: Int = 4): DataFrame = {
    def collapse(df: DataFrame) = df.groupBy(col(textCol))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col(textCol))
    val bRep = collapse(batch)
    val matched = incrementalBestMatch(bRep, collapse(corpus),
      idCol, textCol, threshold, k, bands)
    batch.select(col(idCol).as("__orig_id"), col(textCol))
      .join(bRep.withColumnRenamed(idCol, "__rep_id"), textCol)
      .join(matched, col("__rep_id") === col("n_id"))
      .select(col("__orig_id").as("n_id"), col("dup_of"), col("jaccard"))
  }

  /** Connected components over near-dup pairs by iterative hash-min
    * label propagation with pointer jumping: every round each node takes
    * the minimum label among itself and its neighbors, then follows its
    * label's own label (path shortcutting), so convergence is
    * O(log diameter) rounds rather than O(diameter) — a 1 000-doc
    * chained component resolves in ~10 rounds, not 1 000. Each round is
    * two equi-joins + a keyed min (all shuffles on the id key, no
    * driver-side graph); `localCheckpoint` truncates the lineage each
    * round so the plan does not double per iteration.
    *
    * Convergence detection is FUSED into the round itself (no separate
    * probe job). With symmetric edges, the labels are the fixpoint iff
    * the neighbor-min step would change nothing: `label(s) ≤ nmin(s)`
    * for every node s means every edge (s,d) has label(s) ≤ label(d),
    * and the mirrored edge gives the reverse inequality, so all
    * edge-adjacent labels are equal — exactly edge-consistency. Each
    * round therefore (job A) computes the stepped labels with a
    * `chg = nmin < label` flag and short-circuits on
    * `filter(chg).isEmpty`; only when something changed does job B run
    * the pointer jump + checkpoint, REUSING job A's shuffle files as
    * skipped stages (same lineage, same exchanges). Versus the previous
    * separate 2-edge-join `consistent()` probe per round: the terminal
    * test costs ONE edge-wide join instead of two, the per-round test
    * is free modulo the post-shuffle join recompute in B, and a
    * fixpoint seed (all-clique verbatim-copy graphs) is detected before
    * any propagation work, at no cost to chained graphs.
    *
    * SESSION SIDE EFFECT: the width-pinned edge checkpoint runs with
    * `spark.sql.adaptive.enabled` set to false on the CALLER'S session
    * (restored afterwards). A query planned concurrently on the same
    * session in that window plans without AQE, so callers must be
    * single-threaded on the session. ROADMAP D3 moves this checkpoint
    * onto a `cloneSession()` to remove the mutation.
    *
    * @param pairs undirected edges (aCol, bCol)
    * @param dedupEdges distinct the directed edge list before iterating.
    *   Duplicate edges never change the fixpoint (keyed `min` is
    *   idempotent) but inflate every round's join, so dedup is the
    *   default; callers whose pair list is already unique with aCol <
    *   bCol strictly (both in-repo call sites) skip the shuffle — the
    *   two directed projections of a strict a<b list cannot collide.
    * @return (id, cluster_id) where cluster_id = min id in the component
    */
  def clusters(pairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
               maxIter: Int = 50, dedupEdges: Boolean = true): DataFrame = {
    // SPARK_GRAFT_CC_PLAN=true prints each round's EXECUTED plan to
    // stderr — the committed evidence (plans/r16) that the edges side
    // of the neighbor-min join carries no Exchange: the checkpoint
    // preserves hash(dst) partitioning.
    val directed = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
    // eager: edges is the expensive subtree (the caller's whole pair
    // construction) and round 1 references it from several independent
    // shuffle-map stages — a lazy cache would let those stages race and
    // each recompute the uncached partitions (measured 2× the key)
    // hash(dst)-partitioned BEFORE the checkpoint (r15, guide §2.4):
    // every round's neighbor-min join keys edges on dst, and
    // localCheckpoint preserves the physical partitioning in the
    // LogicalRDD — so the edge table shuffles ONCE here instead of once
    // per round (at 100 TB the edge list is the big side of the loop;
    // O(rounds) edge shuffles was the loop's dominant fabric cost). The
    // seed below additionally leaves round 1's labels side pre-hashed:
    // groupBy(src) emits hash(src) = hash(id) partitioning, so round
    // 1's join plans ZERO exchanges.
    val deduped = if (dedupEdges) directed.distinct() else directed
    // r16 plan audit: the r15 "edges shuffle once" claim did NOT hold —
    // every round re-exchanged the checkpointed edges (Exchange
    // hashpartitioning(dst) over Scan ExistingRDD), for two stacked
    // reasons: (a) repartition(col) without N is AQE-coalescible, and
    // (b) under AQE the checkpoint reads its partitioning from
    // AdaptiveSparkPlanExec, which reports UNKNOWN — so the LogicalRDD
    // never advertises hash(dst) at all. Fix: EXPLICIT partition count
    // (session shuffle width — scale-parameterized, not a local
    // constant) and the checkpoint MATERIALIZED with AQE scoped off,
    // so the physical top is the plain Exchange and the LogicalRDD
    // carries HashPartitioning(dst, N). The loop body still runs under
    // the session's AQE; only this one already-width-pinned shuffle
    // loses (nothing — a repartition to an explicit N is exactly what
    // AQE would not touch anyway). Conf is saved/restored; the loop is
    // driver-side single-threaded.
    // The width is SCALE-ADAPTIVE (guide §2.2/§2.5): an explicit N is
    // mandatory for the partitioning to survive, but pinning it to the
    // session width would run every round's stages N-wide even on a
    // 20k-edge fixture graph (measured +450 ms at sf0.1 from pure task
    // floor). So: materialize the directed edge list once (the eager
    // checkpoint the loop already needs), count it DURING that job via
    // observe(), and size N at ~256k edges (~4-8 MB) per partition,
    // capped at the session shuffle width — fixture graphs get 1, the
    // chain ScaleBench graph ~9, a cluster corpus the full width.
    val sess = pairs.sparkSession
    val shufflePartitions = sess.sessionState.conf.numShufflePartitions
    val observed = deduped.observe("cc_edges", count(lit(1)).as("n"))
    val raw = observed.localCheckpoint(true)
    val n = observed.queryExecution.observedMetrics.get("cc_edges")
      .map(_.getAs[Long]("n")).getOrElse(raw.count())
    val width = math.max(1L,
      math.min(shufflePartitions.toLong, n / 262144L + 1L)).toInt
    val saved = sess.conf.get("spark.sql.adaptive.enabled", "true")
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    val edges =
      try raw.repartition(width, col("dst")).localCheckpoint(true)
      finally sess.conf.set("spark.sql.adaptive.enabled", saved)
    // seed with the first neighbor-min round folded into initialization:
    // label(x) = min(x, neighbors(x)) — one aggregate instead of an
    // identity round, saving a full iteration on every graph
    // NOT checkpointed: the seed is one aggregate over the already-
    // checkpointed edges, and its two round-1 consumers (the neighbor-
    // min join and the stepped base) canonicalize to the same groupBy
    // exchange, so ReuseExchange serves the second from the first's
    // shuffle files — an eager materialization here bought nothing but
    // its own job (A/B measured: key min 1.20 vs 1.29 s without/with)
    var labels = edges.groupBy(col("src")).agg(min("dst").as("nmin"))
      .select(col("src").as("id"), least(col("src"), col("nmin")).as("label"))
    var converged = false
    var i = 0
    // i ≤ maxIter: the pass at i == maxIter may only RUN THE TEST — a
    // productive round there would exceed the round budget, so an
    // unconverged test at the boundary falls through to the refusal
    // below. maxIter still means "max propagation rounds".
    while (!converged && i <= maxIter) {
      // ONE cluster job per round: neighbor-min + stepped labels + chg
      // flag, checkpointed. `labels` may carry the PREVIOUS round's lazy
      // pointer jump (below) — its compute folds into this job, and the
      // two labels consumers here exchange on the same hash(id) key so
      // ReuseExchange serves both from one shuffle.
      val neighborMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min("label").as("nmin"))
      // the convergence statistic rides the CHECKPOINT job itself via
      // observe() (r15): CollectMetrics accumulates the changed-row
      // count while the round materializes, so the test costs ZERO
      // extra jobs. n_chg is consumed ONLY as a > 0 signal — observe()
      // reads accumulators, which can over-count when tasks re-execute
      // after fetch failures, so it must never be reused as an exact
      // count (a retry can only inflate a nonzero count, and a zero
      // count means no task saw a change, so the boolean is retry-safe). The old filter(chg).isEmpty probe — cheap but a
      // scheduled job per round — stays as the fallback if the metric
      // is ever absent (defensive: observedMetrics is populated by the
      // checkpoint action; an empty map here would mean an engine
      // behavior change, and the fallback keeps correctness local).
      val stepped = labels.join(neighborMin, labels("id") === neighborMin("src"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          (coalesce(col("nmin"), col("label")) < col("label")).as("chg"))
        .observe(s"cc_round_$i", count(when(col("chg"), lit(1))).as("n_chg"))
      val steppedCk = stepped.localCheckpoint(true)
      if (sys.env.get("SPARK_GRAFT_CC_PLAN").contains("true"))
        System.err.println(s"===== cc round $i stepped plan =====\n" +
          stepped.queryExecution.executedPlan.toString)
      val changed = stepped.queryExecution.observedMetrics.get(s"cc_round_$i") match {
        case Some(row) => row.getAs[Long]("n_chg") > 0L
        case None => !steppedCk.filter(col("chg")).isEmpty
      }
      // When nothing moved, the PRE-round labels are edge-consistent
      // (see Scaladoc) and are returned as-is.
      if (!changed) {
        converged = true
      } else if (i < maxIter) {
        // pointer jumping: label(x) is itself a node, whose label is ≤
        // it — adopting it shortcuts the path toward the component
        // minimum. Deliberately LAZY: its two exchanges read the
        // checkpointed stepped table (narrow, 2 longs/row) and execute
        // inside the NEXT round's job, so a round costs one cluster job
        // + one free test instead of the old round-job + 2-edge-join
        // probe-job pair. Lineage stays bounded: every round's
        // checkpoint truncates it.
        // (probed r15: skipping the round-0 jump to save its two
        // exchanges costs a whole extra round even on this graph —
        // 31 → 36 jobs. The jump stays unconditional.)
        val base = steppedCk.select(col("id"), col("label"))
        val byId = base.select(col("id").as("jid"), col("label").as("jlabel"))
        labels = base.join(byId, base("label") === byId("jid"), "left")
          .select(col("id"), coalesce(col("jlabel"), col("label")).as("label"))
      }
      i += 1
    }
    // returning partially-propagated labels would silently split
    // clusters (and survivors() would keep several "canonical" docs per
    // component) — refuse instead; with pointer jumping the label
    // reaches the component minimum in O(log diameter) rounds, so
    // maxIter=50 accepts any realistic graph and non-convergence
    // signals something pathological, not merely a deep chain
    // dev instrument (r15): SPARK_GRAFT_CC_LOG=true prints the round
    // count — the loop's job cost is rounds × stage-materializations,
    // invisible in Bench's wall numbers
    if (sys.env.get("SPARK_GRAFT_CC_LOG").contains("true"))
      System.err.println(s"[clusters] converged=$converged rounds=$i")
    if (!converged)
      throw new IllegalStateException(
        s"Dedup.clusters did not converge in $maxIter rounds (covers " +
          s"component diameters up to ~2^$maxIter) — the edge graph is " +
          "pathological; inspect it before raising maxIter")
    labels.withColumnRenamed("label", "cluster_id")
  }

  /** Drop every doc that is a non-minimum member of its cluster. */
  private def keepSurvivors(docs: DataFrame, idCol: String,
                            clustered: DataFrame): DataFrame = {
    val losers = clustered
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id"))
    docs.join(losers, docs(idCol) === losers("id"), "left_anti")
  }

  /** Canonical survivors: drop every doc that belongs to a cluster but is
    * not its minimum-id member. Docs in no pair survive untouched.
    */
  def survivors(docs: DataFrame, idCol: String, pairs: DataFrame,
                aCol: String = "a_id", bCol: String = "b_id"): DataFrame =
    keepSurvivors(docs, idCol, clusters(pairs, aCol, bCol))

  /** Near-dup CLUSTERS without pairwise enumeration — the shape that
    * survives heavily-duplicated corpora. All-pairs output is quadratic
    * in cluster size (a 1 000-copy document alone contributes ~500 000
    * pairs; measured: 2× the sf0.1 corpus → 11M pairs from 10 000
    * docs), so when the product is dedup rather than the pair list
    * itself, link each doc to the MINIMUM doc id of every LSH bucket it
    * lands in — O(docs × bands) star edges — and run hash-min
    * components over those. Docs sharing any band bucket land in one
    * cluster (the same transitive closure the pairwise graph yields via
    * shared buckets). The per-bucket minimum is a groupBy (map-side
    * partial min), NOT a window: a window would buffer the hottest
    * bucket — a 10⁸-copy boilerplate text — in a single task.
    */
  private def clustersFromBuckets(buckets0: DataFrame): DataFrame = {
    // materialized once: both the rep aggregate and the join-back
    // consume the buckets, and recomputing them re-runs the whole
    // signature scan (measured +50% on 50k docs)
    val buckets = buckets0.localCheckpoint(true)
    val reps = buckets.groupBy(col("band"), col("bucket"))
      .agg(min(col("doc_id")).as("rep"))
    val edges = buckets.join(reps, Seq("band", "bucket"))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("a_id"), col("rep").as("b_id"))
      .distinct()
    // the distinct'ed star list is strict (rep < doc always), so the
    // directed union inside clusters cannot produce duplicates
    clusters(edges, dedupEdges = false)
  }

  def lshClusters(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 16, bands: Int = 4): DataFrame =
    clustersFromBuckets(bandBuckets(df, idCol, textCol, k, bands))

  /** [[lshClusters]] on the single-string-hash banding
    * ([[fastBandBuckets]]): same collision guarantees as the k-hash
    * form, ~3× cheaper signatures — the scale default when the corpus
    * is large enough for hashing to dominate.
    */
  def lshClustersFast(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 16, bands: Int = 4): DataFrame =
    clustersFromBuckets(fastBandBuckets(df, idCol, textCol, k, bands))

  /** Survivors via [[lshClusters]]: one doc per near-dup cluster plus
    * all unclustered docs — linear end-to-end.
    */
  def lshSurvivors(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 16, bands: Int = 4): DataFrame =
    keepSurvivors(docs, idCol, lshClusters(docs, idCol, textCol, k, bands))
}
