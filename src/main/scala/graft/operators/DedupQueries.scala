package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryPack, Tables}

/** Near-duplicate detection beyond exact/Jaccard (SURVEY.md §2.9 + the
  * training-data-pipeline mandate): MinHash+LSH, SimHash, character
  * n-gram Jaccard, and embedding-cosine near-dup — all as oracle-checked
  * queries.
  *
  * Hashing is MD5 (identical hex in every engine), so signatures,
  * buckets, and fingerprints are portable — no engine-private hash
  * functions anywhere. Doc slices are bounded by absolute ids so the
  * quadratic verify stage cannot grow with SF; at 100 TB the LSH bucket
  * join IS the scale path (candidates only), while the brute-force
  * variants exist as correctness baselines.
  */
object DedupQueries extends QueryPack {

  private val K = 8          // minhash signature length
  private val BANDS = 4      // 2 rows per band

  /** MinHash signature → banded LSH buckets → candidate pairs → exact
    * Jaccard confirm ≥ 0.8. The only pairwise work happens on LSH
    * candidates, which is what makes this shape viable at 100 TB.
    *
    * The 8 signature components come from TWO md5 digests per word —
    * md5(w) and md5('#'+w), each sliced into four 8-hex chunks — not
    * eight per-seed digests: the digests are materialized as their own
    * projection (CollapseProject refuses to inline a non-cheap alias
    * referenced 4×), so the chunk-min components only run cheap
    * substrings. The oracle replays the identical chunk-min per
    * component relationally and lands on the same buckets.
    */
  private def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val toks = filter(array_distinct(split(col("text"), " ")), w => w =!= "")
    val hashed = Tables.documents(s, dir)
      .filter(col("doc_id") < 300)
      .select(col("doc_id"),
        transform(toks, w => md5(w.cast("binary"))).as("h0"),
        transform(toks, w => md5(concat(lit("#"), w).cast("binary"))).as("h1"))
    val sig = (0 until K).map { k =>
      val h = if (k < 4) col("h0") else col("h1")
      array_min(transform(h, d => substring(d, (k % 4) * 8 + 1, 8)))
    }
    val bucketCols = (0 until BANDS).map(b => concat(sig(2 * b), sig(2 * b + 1)))
    // r15 (guide §2.3 — shuffle keys, not payloads): bucket rows carry
    // ONLY (doc_id, band, bucket). The previous form dragged both token
    // ARRAYS through the bucket join and the pair-distinct, which (a)
    // shuffled 30 MiB where 8-byte ids suffice and (b) forced the
    // distinct into a SortAggregate (array-typed first() buffers can't
    // hash-aggregate). Token sets re-attach to the confirmed candidate
    // ids afterwards — the LSH-candidate/confirm split every scale
    // consumer of this family already uses (pipeline.Dedup).
    val docs = hashed
      .select(col("doc_id"),
        // posexplode_outer: array(...) is fixed-length-4 non-null, so
        // identical — but plain posexplode triggers an inferred filter
        // that re-evaluates all 8 chunk-min signature expressions
        posexplode_outer(array(bucketCols: _*)).as(Seq("band", "bucket")))
    // SHUFFLE_HASH, not broadcast: both sides exchange on the identical
    // hash(band, bucket) subtree, so ReuseExchange serves the right side
    // from the left's shuffle files and the md5 signature pass runs ONCE
    // (the broadcast plan built the signatures twice — once per side).
    // At corpus scale the bucket table never fits a broadcast anyway.
    val cand = docs.select(col("doc_id").as("a_id"), col("band"), col("bucket"))
      .hint("shuffle_hash")
      .join(docs.select(col("doc_id").as("b_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .dropDuplicates("a_id", "b_id")
    // confirm = count shared words per candidate via equi-joins + one
    // hash aggregate (r16, the ngram PPJoin confirm discipline): the
    // previous array_intersect-per-pair confirm was the key's dominant
    // stage (759 of ~900 pipeline-ms) because the jac filter pushes
    // through the projection and re-evaluates the intersect — and its
    // per-row hash-set build over ~100-token arrays — twice per pair;
    // above an aggregate the filter cannot push, and the joins are all
    // codegen. n_inter = |A∩B| exactly (token sets are distinct), jac
    // is the same integer ratio, and a pair whose intersection is
    // empty is dropped by the inner join exactly as the old NULL/0 jac
    // was dropped by the filter.
    val docsSliced = Tables.documents(s, dir).filter(col("doc_id") < 300)
    val tok = docsSliced
      .select(col("doc_id"), explode_outer(toks).as("word"))
    val sizes = docsSliced.select(col("doc_id"), size(toks).as("nw"))
    cand
      .join(tok.select(col("doc_id").as("a_id"), col("word")), "a_id")
      .join(tok.select(col("doc_id").as("b_id"), col("word")), Seq("b_id", "word"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).cast("int").as("n_inter"))
      .join(sizes.select(col("doc_id").as("a_id"), col("nw").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("nw").as("nb")), "b_id")
      .withColumn("jac",
        col("n_inter") / (col("na") + col("nb") - col("n_inter")))
      .filter(col("jac") >= 0.8)
      .select(col("a_id"), col("b_id"), round(col("jac"), 4).as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** 16-bit SimHash from the first 4 MD5 hex nibbles per word,
    * tf-weighted; near-dup = Hamming distance ≤ 1 on doc_id < 300.
    *
    * One md5 per word (explode), then a SINGLE aggregation computing all
    * 16 per-bit majority sums inline — no (word × bit) explode and no
    * second aggregation level. (A pure array-expression fold looks
    * cheaper but CollapseProject inlines the word-hash array into each
    * of the 16 bit folds, recomputing md5 16× per word.) Docs with no
    * non-empty words produce no rows, matching the oracle's explode
    * semantics.
    */
  private def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .filter(col("doc_id") < 300)
      .select(col("doc_id"), explode_outer(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .withColumn("wh", conv(substring(md5(col("word").cast("binary")), 1, 4), 16, 10).cast("long"))
    val bitSums = (0 until 16).map(j =>
      sum(expr(s"2 * ((wh DIV ${1L << j}) % 2) - 1")).as(s"s$j"))
    val fp = words.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 16).map(j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _).as("fp"))
    fp.select(col("doc_id").as("a_id"), col("fp").as("fp_a"))
      .join(fp.select(col("doc_id").as("b_id"), col("fp").as("fp_b")),
        col("a_id") < col("b_id"))
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long"))
      .filter(col("hamming") <= 1)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Character-3-gram Jaccard ≥ 0.8 on doc_id < 150 — catches
    * near-identical strings that word-level Jaccard misses.
    *
    * r16: PPJoin-style PREFIX FILTERING (Xiao et al. 2008, the
    * literature-standard exact similarity join). The r15 shape exploded
    * every gram into a self-equi-join, whose fan-out is Σ df² over ALL
    * grams — bounded by HOT-gram occupancy (measured: 1.02M ordered
    * pairs on the 150-doc slice, 1.10 BILLION on the unbounded 5000-doc
    * corpus where the hottest gram sits in 96% of docs). Prefix
    * filtering joins only each doc's (1−t)·|A|+1 globally-RAREST grams:
    * two sets with J ≥ t must share a gram inside both prefixes (the
    * globally-smallest common gram is in each side's prefix — if all of
    * A's prefix were non-common, |A∩B| ≤ |A| − prefLen < t·|A|, contra
    * J ≥ t ⟹ |A∩B| ≥ t·max(|A|,|B|)), so the candidate join's fan-out
    * is bounded by RARE-gram occupancy instead (measured 22× smaller:
    * 45k on the slice, 49.8M unbounded). Candidates then confirm
    * exactly by counting their shared grams (equi-joins on the full
    * gram sets plus one hash aggregate) — arithmetic identical to the
    * old per-pair count, so rows are bit-identical.
    * Correctness needs only a CONSISTENT total gram order; (df, gram)
    * rarity order is what makes the prefix fan-out small, not what
    * makes it exact.
    */
  private def dedupNgram(s: SparkSession, dir: String): DataFrame =
    ngramJaccardPpjoin(Tables.documents(s, dir).filter(col("doc_id") < 150))
      .orderBy(col("a_id"), col("b_id"))

  private def gramSetCol = array_distinct(transform(
    sequence(lit(1), length(col("text")) - 2),
    i => expr("text").substr(i, lit(3))))

  /** PPJoin prefix-filtered char-3-gram Jaccard ≥ 0.8 (exact; see
    * [[dedupNgram]] for the bound proof). Stages:
    *   1. gram df counts (hash aggregate — map-side partials make it
    *      hot-gram-safe);
    *   2. per-doc rarity sort, keep the (1−t)·|A|+1 rarest grams
    *      (prefLen = n − ⌈4n/5⌉ + 1 in exact integers: (4n+4) DIV 5);
    *   3. candidate join on PREFIX grams only, with the exact size
    *      filter 4·max(|A|,|B|) ≤ 5·min (J ≥ 0.8 ⟹ |A∩B| ≥ (4/9)(a+b)
    *      and |A∩B| ≤ min ⟹ 5·min ≥ 4·max);
    *   4. exact confirm: count each candidate's shared grams — its
    *      a-side grams equi-joined to the b-side on (b_id, gram), one
    *      hash aggregate — over candidate ids only, the LSH-candidate/
    *      confirm split of dedup_minhash_lsh.
    * The SHUFFLE_HASH hint on the self-join makes both sides exchange
    * on the identical hash(gram) subtree so ReuseExchange runs the
    * prefix construction once (the minhash discipline).
    */
  def ngramJaccardPpjoin(docs: DataFrame): DataFrame = {
    // The tokenize-once step of every PPJoin implementation: the gram
    // sets materialize ONCE (eager localCheckpoint). The per-position
    // substr lambda is INTERPRETED (higher-order functions don't
    // codegen), and this subtree is referenced four times — the df
    // count, the rarity ranking, and both confirm sides; left lazy it
    // re-runs per consumer (measured ~200 ms per pass on the 150-doc
    // slice — 4× the cost of everything else in the key). At corpus
    // scale this is the materialized tokenized-record table the
    // literature assumes; downstream passes read it instead of
    // re-scanning text.
    val base = docs
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"), gramSetCol.as("grams"))
      .select(col("doc_id"), size(col("grams")).as("n_grams"), col("grams"))
      .localCheckpoint(true)
    // explode_outer (the minhash posexplode_outer trick): a plain
    // explode adds an inferred size(...) > 0 filter; the array is
    // non-empty by construction (length ≥ 3 ⟹ ≥ 1 gram)
    val gx = base.select(col("doc_id"), col("n_grams"),
      explode_outer(col("grams")).as("gram"))
    val dfs = gx.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    // rarity rank as a per-doc WINDOW (docs are bounded, so the window
    // partition is too — no skew surface; and no collect_list, whose
    // ObjectHashAggregate fell back to sort-based at 150 groups/task)
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("gram"))
    val pref = gx.join(dfs, "gram")
      .withColumn("rk", row_number().over(byDoc))
      .filter(col("rk") <=
        col("n_grams") - expr("(4 * n_grams + 4) DIV 5") + lit(1))
      .select(col("doc_id"), col("n_grams"), col("gram"))
    val pa = pref.select(col("doc_id").as("a_id"), col("n_grams").as("na"), col("gram"))
    val pb = pref.select(col("doc_id").as("b_id"), col("n_grams").as("nb"), col("gram"))
    // na/nb ride the dedup key like the gram-join shape's grouping —
    // they are functions of the ids, so the distinct result is the same
    val cand = pa
      .hint("shuffle_hash")
      .join(pb, "gram")
      .filter(col("a_id") < col("b_id") &&
        col("nb") * 4 <= col("na") * 5 && col("na") * 4 <= col("nb") * 5)
      .select(col("a_id"), col("na"), col("b_id"), col("nb"))
      .dropDuplicates("a_id", "b_id")
    // confirm = count shared grams per candidate: attach a's grams as
    // rows, keep those b also has (an equi-join on (b_id, gram)), one
    // hash aggregate. All codegen equi-joins — the array_intersect
    // per-pair form measured 4× slower because the jac FILTER pushes
    // through the projection and re-evaluates the intersect (and its
    // per-row hash-set build) twice per pair; here the filter sits
    // above an aggregate, where it cannot push (the gram-join shape's
    // own discipline). n_inter = |A∩B| exactly (gram sets are
    // distinct), so jac is the same integer ratio.
    cand
      .join(gx.select(col("doc_id").as("a_id"), col("gram")), "a_id")
      .join(gx.select(col("doc_id").as("b_id"), col("gram")), Seq("b_id", "gram"))
      .groupBy(col("a_id"), col("b_id"), col("na"), col("nb"))
      .agg(count(lit(1)).cast("int").as("n_inter"))
      .withColumn("jac",
        col("n_inter") / (col("na") + col("nb") - col("n_inter")))
      .filter(col("jac") >= 0.8)
      .select(col("a_id"), col("b_id"), round(col("jac"), 4).as("jaccard"))
  }

  /** Embedding-cosine near-dup pairs (vec_id < 300, cos ≥ 0.40 — the
    * testdata's embeddings are unclustered, max pairwise ≈ 0.46).
    * Same bit-exact double left-fold as sim_cosine_topk.
    */
  private def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    // self-norms are per-vector, so compute them ONCE before the pairwise
    // join (n folds) instead of per pair (n² folds) — identical doubles,
    // ~n× less flops; only the cross dot product stays pairwise
    val selfDot = graft.functions.GraftFunctions.vectorDot(col("embedding"), col("embedding"))
    val emb = Tables.embeddings(s, dir).filter(col("vec_id") < 300)
      .select(col("vec_id"), col("embedding"), sqrt(selfDot).as("norm"))
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("ea"), col("norm").as("na"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("eb"), col("norm").as("nb"))
    val dotAB = graft.functions.GraftFunctions.vectorDot(col("ea"), col("eb"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos", dotAB / (col("na") * col("nb")))
      .filter(col("cos") >= 0.40)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Edit-distance near-dup confirm on 40-char prefixes, doc_id < 200:
    * levenshtein is O(len²) per pair, so a real pipeline runs it only as
    * the CONFIRM stage on blocked candidates and on bounded slices — the
    * prefix bound here is that blocking discipline made explicit (full
    * texts would be ~4M DP cells per pair). The DP itself is the
    * standard Wagner–Fischer both engines implement — exact integers.
    */
  private def dedupEditDistance(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), substring(col("text"), 1, 40).as("head"))
    val a = docs.select(col("doc_id").as("a_id"), col("head").as("ha"))
    val b = docs.select(col("doc_id").as("b_id"), col("head").as("hb"))
    // r15: both distance evaluations state the ≤ 20 bound as the
    // THRESHOLD form — Spark's banded Wagner–Fischer computes O(len·k)
    // cells with a length-difference early exit instead of the full
    // O(len²) table, and returns the EXACT distance whenever it is
    // within the bound (−1 past it), so kept rows are bit-identical.
    // The bound predicate is stated INSIDE the join condition AFTER the
    // id inequality: the previous filter-pushdown plan evaluated the
    // unbounded levenshtein FIRST, paying the DP on all n² ordered
    // pairs; And short-circuits, so the cheap id conjunct now halves
    // the DP count before a single cell is computed.
    a.join(b, col("a_id") < col("b_id") &&
        levenshtein(col("ha"), col("hb"), 20) >= 0)
      .withColumn("dist", levenshtein(col("ha"), col("hb"), 20).cast("long"))
      .select(col("a_id"), col("b_id"), col("dist"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** INCREMENTAL dedup — the posture a 100 TB pipeline actually runs:
    * each new crawl batch dedups against the EXISTING corpus, never
    * re-clustering the whole corpus. The id space splits at
    * `(max+1) DIV 2` (data-derived, so the same key works at every SF):
    * ids below are "the corpus", at/above are "the batch". Every batch
    * doc gets its best corpus match by word-set Jaccard ≥ 0.5 (max
    * similarity, min corpus id on ties — `max_by` over a (jac, −id)
    * struct, one hash aggregate, no window) or NULL when novel.
    *
    * Scale shape: batch tokens equi-join corpus tokens on the word (the
    * blocked-intersection discipline of the near_jaccard key — no
    * batch×corpus cross product); the corpus side of a real deployment
    * is the persisted token index, and only the BATCH (the small side)
    * is new work per run. The slice bound keeps the confirm stage
    * SF-invariant, as for the other brute-confirm keys.
    */
  private def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .filter(col("doc_id") < 600)
      .select(col("doc_id"), col("text"))
    val sp = d.agg(expr("(max(doc_id) + 1) DIV 2").as("split"))
    val tok = d
      .select(col("doc_id"), explode_outer(array_distinct(split(col("text"), " "))).as("word"))
      .filter(col("word") =!= "")
    val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("n_words"))
    val withSplit = tok.crossJoin(broadcast(sp))
    val corpusTok = withSplit.filter(col("doc_id") < col("split"))
      .select(col("doc_id").as("o_id"), col("word"))
    val batchTok = withSplit.filter(col("doc_id") >= col("split"))
      .select(col("doc_id").as("n_id"), col("word"))
    val inter = batchTok.join(corpusTok, "word")
      .groupBy(col("n_id"), col("o_id")).agg(count(lit(1)).as("n_inter"))
    val best = inter
      .join(sizes.select(col("doc_id").as("n_id"), col("n_words").as("nn")), "n_id")
      .join(sizes.select(col("doc_id").as("o_id"), col("n_words").as("no")), "o_id")
      .withColumn("jac", col("n_inter") / (col("nn") + col("no") - col("n_inter")))
      .filter(col("jac") >= 0.5)
      .groupBy(col("n_id"))
      .agg(max_by(struct(col("o_id"), col("jac")),
        struct(col("jac"), (-col("o_id")).as("neg"))).as("b"))
      .select(col("n_id"), col("b.o_id").as("dup_of"),
        round(col("b.jac"), 4).as("jaccard"))
    d.crossJoin(broadcast(sp)).filter(col("doc_id") >= col("split"))
      .select(col("doc_id"))
      .join(best, col("doc_id") === col("n_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("jaccard"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_incremental"    -> (dedupIncremental _),
    "dedup_minhash_lsh"    -> (dedupMinhashLsh _),
    "dedup_simhash"        -> (dedupSimhash _),
    "dedup_ngram"          -> (dedupNgram _),
    "dedup_embedding"      -> (dedupEmbedding _),
    "dedup_edit_distance"  -> (dedupEditDistance _))

  private val jaccardTail =
    """|SELECT i.a_id, i.b_id,
       |  round(i.n_inter / (sa.%N% + sb.%N% - i.n_inter), 4) AS jaccard
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.a_id
       |JOIN sizes sb ON sb.doc_id = i.b_id
       |WHERE i.n_inter / (sa.%N% + sb.%N% - i.n_inter) >= %T%
       |ORDER BY a_id, b_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "dedup_incremental" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 600),
        |s AS (SELECT (max(doc_id) + 1) // 2 AS split FROM d),
        |tok AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM d),
        |tok2 AS (SELECT * FROM tok WHERE word <> ''),
        |sizes AS (SELECT doc_id, count(*) AS n_words FROM tok2 GROUP BY doc_id),
        |inter AS (
        |  SELECT n.doc_id AS n_id, o.doc_id AS o_id, count(*) AS n_inter
        |  FROM tok2 n CROSS JOIN s JOIN tok2 o ON n.word = o.word
        |  WHERE n.doc_id >= s.split AND o.doc_id < s.split
        |  GROUP BY n.doc_id, o.doc_id),
        |scored AS (
        |  SELECT i.n_id, i.o_id,
        |    i.n_inter / (sn.n_words + so.n_words - i.n_inter) AS jac
        |  FROM inter i
        |  JOIN sizes sn ON sn.doc_id = i.n_id
        |  JOIN sizes so ON so.doc_id = i.o_id
        |  WHERE i.n_inter / (sn.n_words + so.n_words - i.n_inter) >= 0.5),
        |best AS (
        |  SELECT n_id, o_id AS dup_of, round(jac, 4) AS jaccard,
        |    row_number() OVER (PARTITION BY n_id ORDER BY jac DESC, o_id ASC) AS rn
        |  FROM scored)
        |SELECT d.doc_id, b.dup_of, b.jaccard
        |FROM d CROSS JOIN s
        |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.n_id
        |WHERE d.doc_id >= s.split
        |ORDER BY d.doc_id""".stripMargin,
    "dedup_edit_distance" ->
      """WITH d AS (
        |  SELECT doc_id, substr(text, 1, 40) AS head
        |  FROM documents WHERE doc_id < 200
        |)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(levenshtein(a.head, b.head) AS BIGINT) AS dist
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.head, b.head) <= 20
        |ORDER BY a_id, b_id""".stripMargin,
    "dedup_minhash_lsh" ->
      ("""WITH tok0 AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents WHERE doc_id < 300
        |), tok AS (SELECT * FROM tok0 WHERE word <> ''),
        |mh AS (
        |  SELECT doc_id, k,
        |    min(substr(CASE WHEN k < 4 THEN md5(word) ELSE md5('#' || word) END,
        |               (k % 4) * 8 + 1, 8)) AS mh
        |  FROM tok CROSS JOIN (SELECT unnest(range(0, 8)) AS k) seeds
        |  GROUP BY doc_id, k),
        |buckets AS (
        |  SELECT doc_id, CAST(k // 2 AS INTEGER) AS band,
        |    max(CASE WHEN k % 2 = 0 THEN mh END) || max(CASE WHEN k % 2 = 1 THEN mh END) AS bucket
        |  FROM mh GROUP BY doc_id, k // 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM buckets a JOIN buckets b
        |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        |sizes AS (SELECT doc_id, count(*) AS n_words FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT c.a_id, c.b_id, count(*) AS n_inter
        |  FROM cand c
        |  JOIN tok ta ON ta.doc_id = c.a_id
        |  JOIN tok tb ON tb.doc_id = c.b_id AND tb.word = ta.word
        |  GROUP BY c.a_id, c.b_id)
        |""" + jaccardTail).stripMargin
        .replace("%N%", "n_words").replace("%T%", "0.8"),
    "dedup_simhash" ->
      """WITH words AS (
        |  SELECT doc_id, word,
        |    ((strpos('0123456789abcdef', substr(md5(word), 1, 1)) - 1) * 4096
        |     + (strpos('0123456789abcdef', substr(md5(word), 2, 1)) - 1) * 256
        |     + (strpos('0123456789abcdef', substr(md5(word), 3, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(md5(word), 4, 1)) - 1)) AS wh
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |        FROM documents WHERE doc_id < 300) t
        |  WHERE word <> ''
        |), bits AS (
        |  SELECT doc_id, j, sum(2 * ((wh // CAST(pow(2, j) AS BIGINT)) % 2) - 1) AS s
        |  FROM words CROSS JOIN (SELECT unnest(range(0, 16)) AS j) js
        |  GROUP BY doc_id, j
        |), fp AS (
        |  SELECT doc_id, sum(CASE WHEN s > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS fp
        |  FROM bits GROUP BY doc_id
        |)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.fp, b.fp)) <= 1
        |ORDER BY a_id, b_id""".stripMargin,
    "dedup_ngram" ->
      ("""WITH grams AS (
        |  SELECT DISTINCT doc_id, substr(text, i, 3) AS gram
  FROM (SELECT doc_id, text, unnest(range(1, greatest(length(text) - 1, 1))) AS i
        |        FROM documents WHERE doc_id < 150 AND length(text) >= 3) t
        |), sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
        |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |""" + jaccardTail).stripMargin
        .replace("%N%", "n_grams").replace("%T%", "0.8"),
    "dedup_embedding" ->
      """WITH e AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300
        |), scored AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    list_reduce(list_transform(list_zip(a.embedding, b.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (s, x) -> s + x)
        |    / (sqrt(list_reduce(list_transform(list_zip(a.embedding, a.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (s, x) -> s + x))
        |       * sqrt(list_reduce(list_transform(list_zip(b.embedding, b.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (s, x) -> s + x))) AS cos
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT a_id, b_id, round(cos, 4) AS cos_sim
        |FROM scored
        |WHERE cos >= 0.40
        |ORDER BY a_id, b_id""".stripMargin)
}
