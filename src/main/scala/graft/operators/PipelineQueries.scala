package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryPack, Tables}

/** SURVEY.md §2.9 — LLM-training-data pipeline operators over the
  * `documents` and `embeddings` tables: dedup, similarity search, text
  * analysis. The oracle-checked forms here are the exact variants; the
  * MinHash/LSH scale twins live in `graft.pipeline` (non-oracle, tested
  * by scalatest) because approximate results can never hash-match a
  * different engine.
  *
  * Float determinism: all vector math is done in DOUBLE with an explicit
  * left-fold (`aggregate` in Spark, `list_reduce` in DuckDB) so both
  * engines execute the identical sequence of IEEE operations — results
  * match bit-for-bit before rounding (SURVEY.md §7.4).
  */
object PipelineQueries extends QueryPack {

  /** Exact dedup keeps min doc_id per identical text — dropDuplicates'
    * survivor choice is partition-order-dependent, a groupBy is not.
    * At 100 TB this is the same one-shuffle hash aggregate.
    */
  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("text"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  /** Per-source DUPLICATION REPORT — the monitoring face of the dedup
    * family: docs, distinct contents (by md5 content hash — the shuffle
    * carries 32-hex digests, never the texts), duplicate count and
    * rate per source. This is the dashboard row a corpus-ingest
    * pipeline alerts on (a source whose dup_rate jumps is re-crawling
    * itself). One two-phase distinct aggregate; PORTABLE oracle (md5
    * hex is identical across engines by definition).
    */
  private def dedupStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text").cast("binary"))).as("n_distinct"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        (col("n_docs") - col("n_distinct")).as("n_dups"),
        round((col("n_docs") - col("n_distinct")).cast("double") / col("n_docs"), 4)
          .as("dup_rate"))
      .orderBy(col("source"))

  /** Distinct word tokens per doc for a bounded doc slice. */
  private def tokens(s: SparkSession, dir: String, maxDoc: Int): DataFrame =
    Tables.documents(s, dir)
      .filter(col("doc_id") < maxDoc)
      // explode_outer ≡ explode here (split never yields null/empty
      // arrays) but avoids InferFiltersFromGenerate re-evaluating the
      // array expression in a non-codegen Filter (measured ~5× cost)
      .select(col("doc_id"), explode_outer(array_distinct(split(col("text"), " "))).as("word"))
      .filter(col("word") =!= "")

  /** Exact word-set Jaccard ≥ 0.8 pairs among doc_id < 300 (unordered):
    * explode → self-join on word → |∩| / |∪|. Jaccard is a ratio of
    * ints, so the double division is bit-identical across engines.
    * Shared by the pair key and the components key so both certify the
    * same graph; the MinHash-LSH scale twin (graft.pipeline.Dedup)
    * replaces the quadratic word self-join at 100 TB.
    */
  /** Shared (a_id, b_id, n_inter, na, nb) word-overlap statistics for
    * the bounded doc slice — one intersection pass serves BOTH the
    * Jaccard key and the containment key (different normalizers over
    * the same counts).
    */
  private def pairStats(s: SparkSession, dir: String): DataFrame = {
    val tok = tokens(s, dir, 300)
    val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("n_words"))
    val inter = tok.select(col("doc_id").as("a_id"), col("word"))
      .join(tok.select(col("doc_id").as("b_id"), col("word")), "word")
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("n_words").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n_words").as("nb")), "b_id")
  }

  private def nearJaccardPairs(s: SparkSession, dir: String): DataFrame =
    pairStats(s, dir)
      .withColumn("jac", col("n_inter") / (col("na") + col("nb") - col("n_inter")))
      .filter(col("jac") >= 0.8)

  private def dedupNearJaccard(s: SparkSession, dir: String): DataFrame =
    nearJaccardPairs(s, dir)
      .select(col("a_id"), col("b_id"), round(col("jac"), 4).as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))

  /** CONTAINMENT (overlap-coefficient) near-dup pairs ≥ 0.9: the
    * SUBSET detector Jaccard misses — a short doc quoted inside a long
    * one has |∩|/min(|A|,|B|) ≈ 1 while its Jaccard is tiny (min-side
    * normalizer vs union-side). The quote/inclusion case is the other
    * half of real corpus duplication (boilerplate wrappers, excerpt
    * pages); a dedup pipeline thresholds both. Same one-intersection
    * shape as the Jaccard key (shared [[pairStats]]); the ratio is a
    * long/long double division, bit-identical cross-engine.
    */
  private def dedupContainment(s: SparkSession, dir: String): DataFrame =
    pairStats(s, dir)
      .withColumn("cont", col("n_inter") / least(col("na"), col("nb")))
      .filter(col("cont") >= 0.9)
      .select(col("a_id"), col("b_id"), col("n_inter"),
        round(col("cont"), 4).as("containment"))
      .orderBy(col("a_id"), col("b_id"))

  /** Connected components over the exact near-dup graph: every doc in
    * the slice labeled with the minimum doc_id of its duplicate cluster
    * (itself when it has no near-dups). The Spark side runs the SCALE
    * algorithm — graft.pipeline.Dedup.clusters, iterative hash-min label
    * propagation with pointer jumping, O(log diameter) rounds of keyed
    * joins — while the oracle computes the same fixpoint as a DuckDB
    * recursive-CTE transitive closure: two unrelated algorithms on two
    * engines agreeing bit-for-bit on the clustering, which is the
    * product a 100 TB dedup pipeline actually ships.
    */
  private def dedupComponents(s: SparkSession, dir: String): DataFrame = {
    // the pair list is grouped (unique) with a_id < b_id strict, so the
    // components loop can skip its edge-dedup shuffle
    val comp = graft.pipeline.Dedup.clusters(
      nearJaccardPairs(s, dir).select(col("a_id"), col("b_id")),
      dedupEdges = false)
    Tables.documents(s, dir).filter(col("doc_id") < 300).select(col("doc_id"))
      .join(comp, col("doc_id") === comp("id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("component"))
      .orderBy(col("doc_id"))
  }

  /** Native codegen'd dot product (graft.functions.VectorDot): fused
    * loop, left-to-right accumulation — the exact op sequence DuckDB's
    * list_reduce replays, so results stay bit-identical cross-engine.
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vectorDot(a, b)

  /** Brute-force cosine top-10 against the probe vector (vec_id = 0).
    * This is the correctness baseline; the bucketed ANN scale path is
    * graft.pipeline.CosineANN. One broadcast of a 64-float probe, one
    * scan, one TakeOrderedAndProject — no shuffle of the embedding table.
    */
  private def simCosineTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    // the probe's self-norm is a constant: hoist it into the 1-row
    // broadcast (r15; identical double, one fewer 64-float dot per
    // corpus row — the corpus row's own self-norm is per-row anyway)
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("probe"),
        sqrt(dot(col("embedding"), col("embedding"))).as("probe_norm"))
    emb.crossJoin(broadcast(probe))
      .withColumn("cos",
        dot(col("embedding"), col("probe")) /
          (sqrt(dot(col("embedding"), col("embedding"))) * col("probe_norm")))
      .select(col("vec_id"), round(col("cos"), 4).as("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(10)
  }

  /** BLOCKED exact kNN graph: top-3 cosine neighbors per vector WITHIN
    * its label block — the per-class neighbor structure of hard-negative
    * mining and kNN-classifier eval. Blocking bounds the quadratic to
    * each block (the bounded-confirm-slice discipline of the dedup
    * family); the corpus-wide unblocked graph is the ANN indexes' job
    * (pipeline/IvfIndex, pipeline/CosineANN — block-free at scale via
    * partition-pruned probes). The neighbor side is a broadcast of the
    * (id, label, vec) projection, so the probe side never shuffles for
    * the join; at block sizes past broadcast range the same plan becomes
    * a label-keyed co-partitioned self-join. The rank ≤ 3 filter runs
    * through WindowGroupLimit (plan-audited): each map task keeps only
    * its local top-3 per vec_id BEFORE the window exchange, so the
    * shuffle carries O(k·|vectors|), not the full pair fan-out. Raw
    * cosine is the fixed-fold double (bit-identical cross-engine);
    * ranking happens on the raw value, display rounds once.
    */
  private def simKnnLabel(s: SparkSession, dir: String): DataFrame =
    knnLabelCore(Tables.embeddings(s, dir))

  def knnLabelCore(emb: DataFrame): DataFrame = knnLabelAgainst(emb, emb)

  /** The probe/corpus split of the blocked kNN graph: neighbors come
    * from `corpus`, rows are produced per `probes` vector. The oracle
    * key self-joins (probes = corpus); the bounded form prices per-probe
    * cost independently of probe-set size (ScaleBench's posture).
    */
  def knnLabelAgainst(probes: DataFrame, corpus: DataFrame): DataFrame = {
    // self-norms are per-vector: hoist them to per-row projections on
    // EACH SIDE of the join (the dedup_embedding discipline, r15 —
    // sqrt(dot(v,v)) computed once per row instead of once per PAIR;
    // the IEEE double is identical, only the evaluation count drops).
    // Per pair this leaves ONE 64-float dot + a multiply + a divide
    // where there were three dots + two sqrts — ~3× less flops in the
    // O(|block|²) hot loop, the only quadratic stage of the key.
    val emb = probes.select(col("vec_id"), col("label"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("p_norm"))
    val nbrs = corpus.select(col("vec_id").as("nbr_id"),
      col("label").as("nbr_label"), col("embedding").as("nbr_emb"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nbr_norm"))
    val pairs = emb
      .join(broadcast(nbrs),
        col("label") === col("nbr_label") && col("vec_id") =!= col("nbr_id"))
      .withColumn("cos",
        dot(col("embedding"), col("nbr_emb")) /
          (col("p_norm") * col("nbr_norm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(desc("cos"), asc("nbr_id"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("vec_id"), col("rnk").cast("long").as("rnk"),
        col("nbr_id"), round(col("cos"), 4).as("sim"))
      .orderBy(col("vec_id"), col("rnk"))
  }

  /** HARD-NEGATIVE mining — the contrastive/triplet-training primitive
    * beside sim_knn_label's positives: for each probe vector, the top-3
    * most-similar vectors of a DIFFERENT label (the negatives a
    * contrastive loss most needs). Different-label pairs admit no label
    * blocking, so the probe side is a BOUNDED slice (vec_id < 200, the
    * dedup_near_jaccard precedent) broadcast against the corpus scan —
    * a BroadcastNestedLoopJoin where the broadcast IS 200 rows and the
    * stream side is scanned once: linear in corpus size, the plan a
    * 100 TB negative-miner runs per probe batch (the corpus-wide
    * all-probes graph is ANN territory, like sim_knn_label's ceiling).
    * WindowGroupLimit prunes to the local top-3 per probe before the
    * rank exchange. Raw-cosine ranking; display rounds once.
    */
  private def simHardNegatives(s: SparkSession, dir: String): DataFrame =
    hardNegativesCore(
      Tables.embeddings(s, dir).filter(col("vec_id") < 200),
      Tables.embeddings(s, dir))

  def hardNegativesCore(probes: DataFrame, corpus: DataFrame): DataFrame = {
    // norm hoist, as in knnLabelAgainst: the corpus row's self-norm
    // computes once per row (not once per probe pair) and the probe's
    // once inside the 200-row broadcast — identical doubles, ~3× less
    // flops in the BNLJ's O(|corpus|·|probes|) loop
    val p = probes.select(col("vec_id").as("probe_id"),
      col("label").as("p_label"), col("embedding").as("p_emb"),
      sqrt(dot(col("embedding"), col("embedding"))).as("p_norm"))
    val pairs = corpus
      .select(col("vec_id"), col("label"), col("embedding"),
        sqrt(dot(col("embedding"), col("embedding"))).as("c_norm"))
      .join(broadcast(p), col("label") =!= col("p_label"))
      .withColumn("cos",
        dot(col("embedding"), col("p_emb")) /
          (col("c_norm") * col("p_norm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(desc("cos"), asc("vec_id"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("probe_id"), col("rnk").cast("long").as("rnk"),
        col("vec_id").as("neg_id"), round(col("cos"), 4).as("sim"))
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** Int8 scalar quantization + integer dot-product top-k — the
    * memory-bandwidth lever every 100 TB ANN system pulls (4× smaller
    * vectors than float32, SIMD-friendly integer math). Quantizer:
    * q = clamp(round(x · 256), ±int8) — 256 is a power of two, so the
    * double multiply is EXACT and the only rounding is `round` itself,
    * which both engines do half-away-from-zero; scores are integer
    * sums (≤ 128²·64 per pair, far under 2^53), so ranking has zero
    * float drift end-to-end. Same broadcast-probe shape as
    * sim_cosine_topk: quantization is a scan-level transform, the
    * probe is one row, and the top-k is TakeOrderedAndProject.
    */
  /** Quantize once (the ETL write in a real deployment — int8 vectors
    * are what lands on disk, 4× smaller than float32).
    */
  def quantizeVectors(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"),
      transform(col("embedding"), x =>
        greatest(least(round(x.cast("double") * 256), lit(127.0)), lit(-128.0)).cast("int"))
        .as("q"))

  /** Probe the quantized table: integer dot + top-k, zero float drift. */
  def quantizedProbeTopk(quantized: DataFrame): DataFrame = {
    val probe = quantized.filter(col("vec_id") === 0).select(col("q").as("p"))
    quantized.crossJoin(broadcast(probe))
      .select(col("vec_id"),
        aggregate(zip_with(col("q"), col("p"), (a, b) => (a * b).cast("long")),
          lit(0L), (acc, x) => acc + x).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(10)
  }

  def quantizedTopkCore(embeddings: DataFrame): DataFrame =
    quantizedProbeTopk(quantizeVectors(embeddings))

  private def simQuantizedTopk(s: SparkSession, dir: String): DataFrame =
    quantizedTopkCore(Tables.embeddings(s, dir))

  /** K-means ASSIGNMENT step, oracle-certified — the arithmetic inside
    * `IvfIndex.assign` (there the centroids come from ML KMeans; here
    * they are the 8 vectors with vec_id < 8, deterministic and
    * data-derived, so DuckDB can replay the exact decision: exact
    * double compare, cid tie-break). Per-cluster stats quantize d2 to
    * 1e-4 BEFORE the group sum so the only cross-row float op is an
    * integer add. Distances run through the codegen'd VectorDistSq —
    * bit-identical to the oracle's (x−y)² list fold by construction
    * (same op sequence).
    */
  /** The centroid table folded to ONE broadcast row (array of (cid, c)
    * structs) and the argmin computed IN-ROW: `array_min` over the
    * 8-element distance transform, struct-ordered (d2, cid) — so
    * ASSIGNMENT shuffles NOTHING. The alternative (8-way cross join +
    * `groupBy(vec_id).agg(min(struct))`) moves 8·N rows through a
    * vec_id exchange that cannot partially aggregate (key cardinality
    * = corpus); in-row argmin is the only assignment shape that
    * survives 100 TB. Candidate array order is irrelevant (min is
    * order-independent; ties break on cid inside the struct).
    */
  private def kmeansBest(emb: DataFrame): DataFrame = {
    val cands = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("c"))
      .agg(collect_list(struct(col("cid"), col("c"))).as("cands"))
    emb.crossJoin(broadcast(cands))
      .withColumn("best", array_min(transform(col("cands"), cc =>
        struct(
          graft.functions.GraftFunctions.vectorDistSq(col("embedding"), cc.getField("c")).as("d2"),
          cc.getField("cid").as("cid")))))
      .drop("cands")
  }

  def kmeansAssignCore(emb: DataFrame): DataFrame =
    kmeansBest(emb)
      .select(col("vec_id"), col("best.cid").as("cluster_id"), col("best.d2").as("d2"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        min(col("vec_id")).as("min_member"),
        sum(round(col("d2") * 10000).cast("long")).as("d2_sum_4dp"))
      .orderBy(col("cluster_id"))

  private def simKmeansAssign(s: SparkSession, dir: String): DataFrame =
    kmeansAssignCore(Tables.embeddings(s, dir))

  /** IVF probe certified END-TO-END as an oracle relation — the
    * partition-pruned ANN search whose index pieces were previously
    * spec-only (pipeline/IvfIndex): nprobe=2 nearest centroids of the
    * probe vector, candidate set = vectors ASSIGNED to those clusters
    * (the `sim_kmeans_assign` argmin), exact cosine top-10 within the
    * candidates. DuckDB replays the same three stages, so the hash
    * compare certifies the pruning ALGEBRA (assignment + cluster cut +
    * in-cluster rank), not just the arithmetic.
    *
    * Scale shape: both probe artifacts (its 2 cluster ids, its vector)
    * are 1-row broadcasts; assignment + membership filter + cosine all
    * ride ONE corpus scan with in-row argmin (no exchange until
    * TakeOrdered) — at 100 TB the filter is what IVF exists for: only
    * the probed clusters' rows survive past the scan. Ranking is on the
    * RAW fold cosine (bit-identical cross-engine), display rounds once;
    * ties break on vec_id.
    */
  private def simIvfTopk(s: SparkSession, dir: String): DataFrame =
    ivfTopkCore(Tables.embeddings(s, dir))

  def ivfTopkCore(emb: DataFrame): DataFrame = {
    val distSq = graft.functions.GraftFunctions.vectorDistSq _
    // ONE broadcast row carries centroids AND the probe vector (one
    // filtered scan, one aggregate — collect_list drops the null arms);
    // the probe's nprobe=2 cluster ids then resolve IN-ROW on the main
    // scan (8 extra distances per row against a serial chain of
    // broadcast jobs — the constant loses to the job floor by 2×)
    val art = emb.filter(col("vec_id") < 8 || col("vec_id") === 0)
      .agg(
        collect_list(when(col("vec_id") < 8,
          struct(col("vec_id").as("cid"), col("embedding").as("c")))).as("cands"),
        max(when(col("vec_id") === 0, col("embedding"))).as("p"))
      // probe self-norm hoisted into the same 1-row broadcast (r15):
      // one fewer 64-float dot per corpus row, identical double
      .withColumn("pn", sqrt(dot(col("p"), col("p"))))
    emb.crossJoin(broadcast(art))
      .withColumn("best", array_min(transform(col("cands"), cc => struct(
        distSq(col("embedding"), cc.getField("c")).as("d2"),
        cc.getField("cid").as("cid")))))
      .withColumn("pcids", transform(
        slice(array_sort(transform(col("cands"), cc => struct(
          distSq(col("p"), cc.getField("c")).as("d2"),
          cc.getField("cid").as("cid")))), 1, 2),
        x => x.getField("cid")))
      .filter(array_contains(col("pcids"), col("best.cid")))
      .withColumn("cos",
        dot(col("embedding"), col("p")) /
          (sqrt(dot(col("embedding"), col("embedding"))) * col("pn")))
      .select(col("vec_id"), col("best.cid").as("cluster_id"), col("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(10)
      .select(col("vec_id"), col("cluster_id"), round(col("cos"), 4).as("sim"))
  }

  /** K-means UPDATE step (the other half of a Lloyd iteration, same
    * certified-arithmetic discipline as `sim_kmeans_assign`): per
    * cluster, the component-wise sum of member vectors — the new
    * centroid, up to the 1/n division — emitted as pure integers
    * (components quantized to 1e-4 BEFORE any cross-row add, so the
    * only float op is the per-element round; summing raw doubles per
    * group would be partition-order-dependent). Output fingerprint per
    * cluster: member count, L1 norm of the summed quantized vector,
    * and component 0's sum. Plan: the assign broadcast + argmin, then
    * posexplode of the winners into ONE (cid, pos) aggregate — the
    * member count rides it (count per (cid, pos) = members), so no
    * separate membership branch or join.
    */
  def kmeansUpdateCore(emb: DataFrame): DataFrame =
    kmeansBest(emb)
      .select(col("best.cid").as("cid"), col("embedding"))
      .select(col("cid"), posexplode(col("embedding")).as(Seq("pos0", "v")))
      .select(col("cid"), (col("pos0") + 1).as("pos"),
        round(col("v").cast("double") * 10000).cast("long").as("q"))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("nm"))
      .groupBy(col("cid"))
      .agg(max(col("nm")).as("n_members"),
        sum(abs(col("sq"))).as("l1_sum_q"),
        sum(when(col("pos") === 1, col("sq")).otherwise(0L)).as("c0_sum_q"))
      .select(col("cid").as("cluster_id"), col("n_members"),
        col("l1_sum_q"), col("c0_sum_q"))
      .orderBy(col("cluster_id"))

  private def simKmeansUpdate(s: SparkSession, dir: String): DataFrame =
    kmeansUpdateCore(Tables.embeddings(s, dir))

  /** Per-label centroid L2 norm — clustering-shaped reassembly via
    * posexplode → per-(label, position) mean → norm over positions.
    */
  private def simLabelCentroid(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val comps = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("v").cast("double")).as("m"))
    val norms = comps.groupBy("label")
      .agg(round(sqrt(sum(col("m") * col("m"))), 4).as("centroid_norm"))
    val counts = emb.groupBy("label").agg(count(lit(1)).as("n_vecs"))
    norms.join(counts, "label")
      .select(col("label").cast("long").as("label"), col("n_vecs"), col("centroid_norm"))
      .orderBy(col("label"))
  }

  private def textLangStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg("n_chars"), 4).as("avg_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"))

  /** Top (doc, term) pairs by TF-IDF. idf = ln(N / df) over identical
    * double operands in both engines; rounded at emit.
    */
  private def textTfidfTop(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tok = docs
      .select(col("doc_id"), explode_outer(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
    // r9: explicit hash(word) BEFORE the tf count — the subset key
    // satisfies the (doc, word) aggregate's clustering AND the df
    // window, so the token stream crosses ONE wide edge, not two (the
    // unigram/bigram discipline; the trade is the count's map-side
    // partial phase, worth little when (doc, word) is near-unique)
    val tf = tok.repartition(col("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    // df from tf, not from a second distinct over the raw tokens: tf is
    // already one row per (doc, word), so counting rows per word IS the
    // document frequency. r8: df is a count WINDOW over word on tf
    // instead of agg-then-rejoin (which planned an extra exchange per
    // side) — the boilerplate window-over-counts shape
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("word")))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("n_docs") / col("df")), 4))
      .select(col("doc_id"), col("word"), col("tfidf"))
      .orderBy(desc("tfidf"), asc("doc_id"), asc("word"))
      .limit(100)
  }

  /** END-TO-END corpus cleaning decision — THE query a training-data
    * pipeline ships: per document, the three certified gates composed
    * into one keep/drop row with per-gate reasons.
    *   r_quality  — the Gopher rule battery (text_gopher_rules' keep)
    *   r_survivor — exact-dup survivorship: doc_id = min(doc_id) over
    *                identical text (one text-keyed window — no rejoin of
    *                the survivor table on the full text)
    *   r_boiler   — boilerplate gate n_boiler·2 < n_grams in EXACT
    *                integers (no float threshold); docs too short to
    *                have 3-grams pass vacuously (they already fail
    *                r_quality's length rule)
    * keep = r_quality · r_survivor · r_boiler.
    *
    * Plan: three linear sub-plans over the same scan — a zero-exchange
    * rule scan, one window keyed by text (high-cardinality at scale),
    * the gram window + doc re-agg (boilerplateCore's r8 two-edge shape)
    * — then two doc_id equi-joins (co-partitioned with the doc re-agg).
    * Never all-pairs; every shuffle linear in corpus size. This is the
    * composition story: each gate is individually oracle-certified, and
    * so is the composition.
    */
  private def pipelineClean(s: SparkSession, dir: String): DataFrame =
    cleanCore(Tables.documents(s, dir)).orderBy(col("doc_id"))

  def cleanCore(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("text"))
    val surv = docs.select(col("doc_id"), col("lang"),
      when(col("doc_id") === min("doc_id").over(w), 1L).otherwise(0L)
        .as("r_survivor"))
    val gopher = TextAnalysisQueries.gopherRulesCore(docs)
      .select(col("doc_id").as("g_id"), col("n_tokens"),
        col("keep").as("r_quality"))
    val boiler = TextAnalysisQueries.boilerplateCore(docs)
      .select(col("doc_id").as("b_id"),
        when(col("n_boiler") * 2 < col("n_grams"), 1L).otherwise(0L)
          .as("rb"))
    surv.join(gopher, col("doc_id") === col("g_id"))
      .join(boiler, col("doc_id") === col("b_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("r_quality"), col("r_survivor"),
        coalesce(col("rb"), lit(1L)).as("r_boiler"))
      .withColumn("keep",
        col("r_quality") * col("r_survivor") * col("r_boiler"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_clean"     -> (pipelineClean _),
    "dedup_exact"        -> (dedupExact _),
    "dedup_near_jaccard" -> (dedupNearJaccard _),
    "dedup_containment"  -> (dedupContainment _),
    "dedup_stats"        -> (dedupStats _),
    "dedup_components"   -> (dedupComponents _),
    "sim_knn_label"      -> (simKnnLabel _),
    "sim_hard_negatives" -> (simHardNegatives _),
    "sim_cosine_topk"    -> (simCosineTopk _),
    "sim_quantized_topk" -> (simQuantizedTopk _),
    "sim_label_centroid" -> (simLabelCentroid _),
    "sim_kmeans_assign"  -> (simKmeansAssign _),
    "sim_kmeans_update"  -> (simKmeansUpdate _),
    "sim_ivf_topk"       -> (simIvfTopk _),
    "text_lang_stats"    -> (textLangStats _),
    "text_tfidf_top"     -> (textTfidfTop _))

  val oracle: Map[String, String] = Map(
    "pipeline_clean" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens,
        |    length(replace(text, ' ', '')) AS n_wchars,
        |    len(list_filter(string_split(text, ' '),
        |      w -> w IN ('the','and','of','to','in'))) AS n_stop,
        |    len(list_filter(string_split(text, ' '),
        |      w -> w <> '' AND regexp_matches(w, '[a-z]'))) AS n_alpha,
        |    length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
        |      AS n_sym
        |  FROM documents),
        |gopher AS (
        |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |    CAST(CASE WHEN n_tokens BETWEEN 30 AND 100000
        |           AND n_wchars >= n_tokens * 3 AND n_wchars <= n_tokens * 10
        |           AND n_stop >= 2 AND n_alpha * 10 >= n_tokens * 8
        |           AND n_sym * 10 <= n_tokens
        |         THEN 1 ELSE 0 END AS BIGINT) AS r_quality
        |  FROM base),
        |surv AS (
        |  SELECT doc_id, lang,
        |    CAST(CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY text)
        |         THEN 1 ELSE 0 END AS BIGINT) AS r_survivor
        |  FROM documents),
        |d AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
        |      FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i : i + 2], ' ') AS gram
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
        |        FROM d WHERE len(toks) >= 3) t),
        |gc AS (SELECT gram, count(*) AS df FROM grams GROUP BY gram),
        |boiler AS (
        |  SELECT g.doc_id,
        |    CAST(CASE WHEN count(*) FILTER (WHERE gc.df >= 3) * 2 < count(*)
        |         THEN 1 ELSE 0 END AS BIGINT) AS rb
        |  FROM grams g JOIN gc ON g.gram = gc.gram
        |  GROUP BY g.doc_id)
        |SELECT s.doc_id, s.lang, gp.n_tokens,
        |  gp.r_quality, s.r_survivor,
        |  coalesce(b.rb, 1) AS r_boiler,
        |  gp.r_quality * s.r_survivor * coalesce(b.rb, 1) AS keep
        |FROM surv s
        |JOIN gopher gp ON s.doc_id = gp.doc_id
        |LEFT JOIN boiler b ON s.doc_id = b.doc_id
        |ORDER BY s.doc_id""".stripMargin,
    // PORTABLE: md5 hex + count(DISTINCT) run unmodified on both engines
    "dedup_stats" ->
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT md5(text)) AS n_distinct,
        |  count(*) - count(DISTINCT md5(text)) AS n_dups,
        |  round(CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE)
        |    / count(*), 4) AS dup_rate
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY text
        |ORDER BY keep_id""".stripMargin,
    "dedup_components" ->
      """WITH RECURSIVE tok AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents WHERE doc_id < 300
        |), tok2 AS (SELECT * FROM tok WHERE word <> ''),
        |sizes AS (SELECT doc_id, count(*) AS n_words FROM tok2 GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
        |  FROM tok2 a JOIN tok2 b ON a.word = b.word AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pairs AS (
        |  SELECT a_id, b_id FROM inter
        |  JOIN sizes sa ON sa.doc_id = a_id
        |  JOIN sizes sb ON sb.doc_id = b_id
        |  WHERE n_inter / (sa.n_words + sb.n_words - n_inter) >= 0.8),
        |edges AS (
        |  SELECT a_id AS a, b_id AS b FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |comp AS (
        |  SELECT a AS doc_id, least(a, min(b)) AS component FROM reach GROUP BY a)
        |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
        |LEFT JOIN comp c ON c.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "dedup_containment" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents WHERE doc_id < 300
        |), tok2 AS (SELECT * FROM tok WHERE word <> ''),
        |sizes AS (SELECT doc_id, count(*) AS n_words FROM tok2 GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS n_inter
        |  FROM tok2 a JOIN tok2 b ON a.word = b.word AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT a_id, b_id, n_inter,
        |  round(n_inter / least(sa.n_words, sb.n_words), 4) AS containment
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = a_id
        |JOIN sizes sb ON sb.doc_id = b_id
        |WHERE n_inter / least(sa.n_words, sb.n_words) >= 0.9
        |ORDER BY a_id, b_id""".stripMargin,
    "dedup_near_jaccard" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents WHERE doc_id < 300
        |), tok2 AS (SELECT * FROM tok WHERE word <> ''),
        |sizes AS (SELECT doc_id, count(*) AS n_words FROM tok2 GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
        |  FROM tok2 a JOIN tok2 b ON a.word = b.word AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT a_id, b_id,
        |  round(n_inter / (sa.n_words + sb.n_words - n_inter), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = a_id
        |JOIN sizes sb ON sb.doc_id = b_id
        |WHERE n_inter / (sa.n_words + sb.n_words - n_inter) >= 0.8
        |ORDER BY a_id, b_id""".stripMargin,
    "sim_hard_negatives" -> {
      def dd(a: String, b: String) =
        s"list_reduce(list_transform(list_zip($a, $b), " +
          s"x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (s, x) -> s + x)"
      s"""WITH pairs AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS neg_id,
        |    ${dd("c.embedding", "p.embedding")}
        |    / (sqrt(${dd("c.embedding", "c.embedding")})
        |       * sqrt(${dd("p.embedding", "p.embedding")})) AS cos
        |  FROM embeddings p JOIN embeddings c
        |    ON p.label <> c.label
        |  WHERE p.vec_id < 200),
        |r AS (
        |  SELECT probe_id, neg_id, cos,
        |    row_number() OVER (PARTITION BY probe_id
        |                       ORDER BY cos DESC, neg_id) AS rnk
        |  FROM pairs)
        |SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, neg_id,
        |  round(cos, 4) AS sim
        |FROM r WHERE rnk <= 3
        |ORDER BY probe_id, rnk""".stripMargin
    },
    "sim_knn_label" -> {
      def dd(a: String, b: String) =
        s"list_reduce(list_transform(list_zip($a, $b), " +
          s"x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (s, x) -> s + x)"
      s"""WITH pairs AS (
        |  SELECT a.vec_id, b.vec_id AS nbr_id,
        |    ${dd("a.embedding", "b.embedding")}
        |    / (sqrt(${dd("a.embedding", "a.embedding")})
        |       * sqrt(${dd("b.embedding", "b.embedding")})) AS cos
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id <> b.vec_id),
        |r AS (
        |  SELECT vec_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY vec_id
        |                       ORDER BY cos DESC, nbr_id) AS rnk
        |  FROM pairs)
        |SELECT vec_id, CAST(rnk AS BIGINT) AS rnk, nbr_id,
        |  round(cos, 4) AS sim
        |FROM r WHERE rnk <= 3
        |ORDER BY vec_id, rnk""".stripMargin
    },
    "sim_cosine_topk" ->
      """WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT vec_id,
        |    list_reduce(list_transform(list_zip(embedding, p), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (s, x) -> s + x)
        |    / (sqrt(list_reduce(list_transform(list_zip(embedding, embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (s, x) -> s + x))
        |       * sqrt(list_reduce(list_transform(list_zip(p, p), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (s, x) -> s + x))) AS cos
        |  FROM embeddings, probe)
        |SELECT vec_id, round(cos, 4) AS sim
        |FROM scored
        |ORDER BY sim DESC, vec_id ASC
        |LIMIT 10""".stripMargin,
    "sim_quantized_topk" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x ->
        |      CAST(greatest(least(round(CAST(x AS DOUBLE) * 256), 127), -128) AS INTEGER)) AS qv
        |  FROM embeddings),
        |probe AS (SELECT qv AS p FROM q WHERE vec_id = 0)
        |SELECT vec_id,
        |  CAST(list_reduce(list_transform(list_zip(qv, p),
        |    x -> CAST(x[1] AS BIGINT) * CAST(x[2] AS BIGINT)), (s, x) -> s + x) AS BIGINT) AS score
        |FROM q, probe
        |ORDER BY score DESC, vec_id ASC
        |LIMIT 10""".stripMargin,
    "sim_label_centroid" ->
      """WITH comps AS (
        |  SELECT label, unnest(range(1, len(embedding) + 1)) AS pos,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |), means AS (
        |  SELECT label, pos, avg(v) AS m FROM comps GROUP BY label, pos
        |), norms AS (
        |  SELECT label, round(sqrt(sum(m * m)), 4) AS centroid_norm
        |  FROM means GROUP BY label
        |), counts AS (
        |  SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label
        |)
        |SELECT CAST(norms.label AS BIGINT) AS label, n_vecs, centroid_norm
        |FROM norms JOIN counts ON norms.label = counts.label
        |ORDER BY label""".stripMargin,
    // IVF probe restated in three stages: probe→2 nearest centroids,
    // argmin assignment, exact cosine top-10 inside the probed clusters;
    // ranking on the RAW fold cosine, display rounds once
    "sim_ivf_topk" ->
      """WITH cents AS (
        |  SELECT vec_id AS cid, embedding AS c FROM embeddings WHERE vec_id < 8),
        |probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
        |pd AS (
        |  SELECT cid,
        |    list_reduce(list_transform(list_zip(p, c),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
        |      (s, v) -> s + v) AS d2
        |  FROM probe, cents),
        |pc AS (SELECT cid FROM pd ORDER BY d2 ASC, cid ASC LIMIT 2),
        |scored AS (
        |  SELECT e.vec_id, c.cid,
        |    list_reduce(list_transform(list_zip(e.embedding, c.c),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
        |      (s, v) -> s + v) AS d2
        |  FROM embeddings e, cents c),
        |assigned AS (
        |  SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
        |  FROM scored),
        |cand AS (
        |  SELECT a.vec_id, a.cid AS cluster_id
        |  FROM assigned a JOIN pc ON a.cid = pc.cid
        |  WHERE a.rn = 1),
        |ranked AS (
        |  SELECT cand.vec_id, cluster_id,
        |    list_reduce(list_transform(list_zip(e.embedding, p),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (s, x) -> s + x)
        |    / (sqrt(list_reduce(list_transform(list_zip(e.embedding, e.embedding),
        |         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (s, x) -> s + x))
        |       * sqrt(list_reduce(list_transform(list_zip(p, p),
        |         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (s, x) -> s + x))) AS cos
        |  FROM cand JOIN embeddings e ON cand.vec_id = e.vec_id, probe)
        |SELECT vec_id, cluster_id, round(cos, 4) AS sim
        |FROM ranked
        |ORDER BY cos DESC, vec_id ASC
        |LIMIT 10""".stripMargin,
    "sim_kmeans_assign" ->
      """WITH cents AS (
        |  SELECT vec_id AS cid, embedding AS c FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, c.cid,
        |    list_reduce(list_transform(list_zip(e.embedding, c.c),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
        |      (s, v) -> s + v) AS d2
        |  FROM embeddings e, cents c),
        |assigned AS (
        |  SELECT vec_id, cid, d2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
        |  FROM scored)
        |SELECT cid AS cluster_id,
        |  count(*) AS n_members,
        |  min(vec_id) AS min_member,
        |  CAST(sum(CAST(round(d2 * 10000) AS BIGINT)) AS BIGINT) AS d2_sum_4dp
        |FROM assigned WHERE rn = 1
        |GROUP BY cid ORDER BY cid""".stripMargin,
    "sim_kmeans_update" ->
      """WITH cents AS (
        |  SELECT vec_id AS cid, embedding AS c FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, e.embedding, c.cid,
        |    list_reduce(list_transform(list_zip(e.embedding, c.c),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
        |      (s, v) -> s + v) AS d2
        |  FROM embeddings e, cents c),
        |assigned AS (
        |  SELECT vec_id, embedding, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
        |  FROM scored),
        |comps AS (
        |  SELECT cid, CAST(i AS INTEGER) AS pos,
        |    CAST(round(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 10000)
        |      AS BIGINT) AS q
        |  FROM (SELECT cid, embedding, unnest(range(1, len(embedding) + 1)) AS i
        |        FROM assigned WHERE rn = 1)),
        |sums AS (
        |  SELECT cid, pos, CAST(sum(q) AS BIGINT) AS sq, count(*) AS nm
        |  FROM comps GROUP BY cid, pos)
        |SELECT cid AS cluster_id,
        |  max(nm) AS n_members,
        |  CAST(sum(abs(sq)) AS BIGINT) AS l1_sum_q,
        |  CAST(sum(CASE WHEN pos = 1 THEN sq ELSE 0 END) AS BIGINT) AS c0_sum_q
        |FROM sums
        |GROUP BY cid ORDER BY cluster_id""".stripMargin,
    "text_lang_stats" ->
      """SELECT lang,
        |  count(*) AS n_docs,
        |  round(avg(n_chars), 4) AS avg_chars,
        |  count(DISTINCT source) AS n_sources
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
    "text_tfidf_top" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
        |), tok2 AS (SELECT * FROM tok WHERE word <> ''),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM tok2 GROUP BY doc_id, word),
        |df AS (SELECT word, count(*) AS df FROM (SELECT DISTINCT doc_id, word FROM tok2) GROUP BY word),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.word AS word, round(tf.tf * ln(n.n_docs / df.df), 4) AS tfidf
        |FROM tf JOIN df ON tf.word = df.word CROSS JOIN n
        |ORDER BY tfidf DESC, doc_id ASC, word ASC
        |LIMIT 100""".stripMargin)
}
