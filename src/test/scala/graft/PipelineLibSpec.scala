package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, Multimodal, Similarity}

class PipelineLibSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf)
  private lazy val emb = Tables.embeddings(spark, sf)

  test("Dedup.exact keeps one survivor per distinct text") {
    val out = Dedup.exact(docs, "text", "doc_id")
    assert(out.count() == docs.select("text").distinct().count())
    assert(out.agg(sum("n_copies")).head.getLong(0) == docs.count())
  }

  test("Dedup.nearDuplicates finds every exact duplicate pair (recall on sure things)") {
    // exact duplicate texts must collide in every band, so LSH recall on
    // jaccard=1.0 pairs is 1 by construction
    val d = Tables.documents(spark, "/root/testdata/sf0.1")
    val exactPairs = d.select(col("text"), col("doc_id").as("a"))
      .join(d.select(col("text"), col("doc_id").as("b")), "text")
      .filter(col("a") < col("b"))
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.nonEmpty, "sf0.1 is documented to contain duplicate texts")
    val found = Dedup.nearDuplicates(d, "doc_id", "text", threshold = 0.99)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.subsetOf(found),
      s"missing ${exactPairs.diff(found)}")
  }

  test("Dedup.incrementalBestMatch: sound matches, full recall on exact dups") {
    val d = Tables.documents(spark, "/root/testdata/sf0.1")
    val split = d.agg(expr("(max(doc_id)+1) DIV 2")).head.getLong(0)
    val corpus = d.filter(col("doc_id") < split)
    val batch = d.filter(col("doc_id") >= split)
    val got = Dedup.incrementalBestMatch(batch, corpus, "doc_id", "text", 0.99)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // soundness: every reported match really is a ≥0.99-Jaccard pair
    // (exact confirm is part of the operator, so spot-check the texts)
    val texts = d.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { case (n, o) =>
      val (tn, to) = (texts(n).split(" ").toSet, texts(o).split(" ").toSet)
      val jac = tn.intersect(to).size.toDouble / tn.union(to).size
      assert(jac >= 0.99, s"$n -> $o reported but jaccard $jac")
    }
    // recall on sure things: a batch doc whose text appears verbatim in
    // the corpus collides in every band, so it MUST be matched
    val exactCross = batch.select(col("text"), col("doc_id").as("n"))
      .join(corpus.select(col("text"), col("doc_id").as("o")), "text")
      .select("n").distinct().collect().map(_.getLong(0)).toSet
    assert(exactCross.nonEmpty, "sf0.1 contains cross-split duplicate texts")
    assert(exactCross.subsetOf(got.keySet),
      s"missing exact-dup matches for ${exactCross.diff(got.keySet)}")
  }

  test("Dedup.incrementalBestMatchCollapsed equals the uncollapsed form") {
    // sf0.1 has verbatim duplicate texts, so the collapse is exercised
    // for real (reps < docs) and must change nothing in the output
    val d = Tables.documents(spark, "/root/testdata/sf0.1")
    val split = d.agg(expr("(max(doc_id)+1) DIV 2")).head.getLong(0)
    val corpus = d.filter(col("doc_id") < split)
    val batch = d.filter(col("doc_id") >= split)
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), math.round(r.getDouble(2) * 1e9)))).toMap
    val direct = toMap(Dedup.incrementalBestMatch(batch, corpus, "doc_id", "text", 0.8))
    val collapsed = toMap(Dedup.incrementalBestMatchCollapsed(batch, corpus, "doc_id", "text", 0.8))
    assert(corpus.select("text").distinct().count() < corpus.count() ||
      batch.select("text").distinct().count() < batch.count(),
      "collapse must actually shrink a side for this test to bite")
    assert(collapsed == direct, {
      val onlyD = direct.keySet.diff(collapsed.keySet)
      val onlyC = collapsed.keySet.diff(direct.keySet)
      val diff = direct.keySet.intersect(collapsed.keySet)
        .filter(k => direct(k) != collapsed(k)).take(5)
      s"only-direct=$onlyD only-collapsed=$onlyC differing=$diff"
    })
  }

  test("Dedup.clusters propagates min labels across chains and components") {
    import spark.implicits._
    // component {0..4} as a worst-case path + star {10,11,12} + pair {20,21}
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (20L, 21L)).toDF("a_id", "b_id")
    val got = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 4L).forall(got(_) == 0L), s"path must collapse to 0: $got")
    assert(Seq(10L, 11L, 12L).forall(got(_) == 10L))
    assert(got(20L) == 20L && got(21L) == 20L)
  }

  test("Dedup.clusters converges on cliques with zero rounds and resolves chains") {
    import spark.implicits._
    // cliques/stars (the verbatim-copy graph): seed IS the fixpoint, so
    // the fused convergence check must stop at maxIter = 0 (no
    // propagation round)
    val cliques = Seq((0L, 1L), (0L, 2L), (1L, 2L), (10L, 11L), (10L, 12L))
      .toDF("a_id", "b_id")
    val fast = Dedup.clusters(cliques, maxIter = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(0L, 1L, 2L).forall(fast(_) == 0L))
    assert(Seq(10L, 11L, 12L).forall(fast(_) == 10L))
    // a chain is not a fixpoint at seed (label(1)=0, label(2)=1 differ
    // on edge 1–2), so it must propagate to component 0
    val chain = (0L until 5L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val got = Dedup.clusters(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 5L).forall(got(_) == 0L))
  }

  test("Dedup.clusters refuses to return partially-propagated labels") {
    import spark.implicits._
    // a 12-node path: seed + one round + pointer jump reaches ~4 hops,
    // so maxIter = 1 cannot label the far end and must throw (a 4-node
    // chain converges legitimately in one round)
    val chain = (0L until 11L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    intercept[IllegalStateException] {
      Dedup.clusters(chain, maxIter = 1).collect()
    }
    // and the same graph converges cleanly with headroom
    val got = Dedup.clusters(chain, maxIter = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 11L).forall(got(_) == 0L), s"path must collapse to 0: $got")
  }

  test("Dedup.survivors keeps one doc per near-dup cluster plus untouched docs") {
    import spark.implicits._
    val pairs = Seq((1L, 3L), (3L, 7L), (100L, 101L)).toDF("a_id", "b_id")
    val kept = Dedup.survivors(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == all -- Set(3L, 7L, 101L),
      "exactly the non-minimum cluster members are dropped")
  }

  test("fast LSH clustering groups dups but never unrelated short docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta  gamma beta alpha"),  // same token set → same signature
      (3L, "alpha beta gamma delta"),   // exact duplicate of 1
      (4L, "zeta"),                     // short and unrelated: must stay apart
      (5L, "omega psi"))                // short and unrelated: must stay apart
      .toDF("doc_id", "text")
    val clustered = Dedup.lshClustersFast(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clustered(1) == clustered(2) && clustered(1) == clustered(3))
    // the bottom-k padding bug merged all short docs into one cluster;
    // per-component signatures must not
    assert(clustered.get(4L).forall(_ != clustered(1)))
    assert(clustered.get(5L).forall(c => c != clustered(1) && !clustered.get(4L).contains(c)))
  }

  test("fast LSH banding materializes the base hash array exactly once") {
    // the fast path relies on CollapseProject refusing to inline a
    // non-cheap alias referenced k times; if that heuristic changes,
    // __h would be inlined and the token strings re-hashed k times.
    // Checked on the banding stage itself — lshClustersFast checkpoints,
    // which truncates the visible lineage.
    val buckets = Dedup.fastBandBuckets(docs.limit(50), "doc_id", "text", 16, 4)
    val plan = buckets.queryExecution.optimizedPlan.toString
    assert(plan.contains("__h"),
      s"base hash column must stay materialized, not inlined: ${plan.take(400)}")
  }

  test("k-hash LSH banding keeps near-dup recall under single-token insertion") {
    import spark.implicits._
    // B = A plus one extra token — jaccard 20/21 ≈ 0.95. Positional
    // bottom-k banding missed such pairs deterministically whenever the
    // new token hashed low; per-component banding must surface them.
    val a = (1 to 20).map(i => s"tok$i").mkString(" ")
    val cases = (0 until 10).map(j => (j, a, s"$a extra$j"))
    val df = cases.flatMap { case (j, ta, tb) =>
      Seq((j * 2L, ta, j), (j * 2L + 1, tb, j))
    }.toDF("doc_id", "text", "grp")
    val cand = Dedup.lshCandidates(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantPairs = (0 until 10).map(j => (j * 2L, j * 2L + 1)).toSet
    val hit = wantPairs.count(cand.contains)
    assert(hit >= 8, s"k-hash banding should catch nearly all 0.95-jaccard pairs, hit $hit/10")
  }

  test("Dedup.lshClusters groups every exact duplicate without pair enumeration") {
    val clusters = Dedup.lshClusters(docs, "doc_id", "text")
    // identical texts have identical signatures → identical buckets →
    // one cluster; so survivors can never exceed the distinct-text count
    val survivors = Dedup.lshSurvivors(docs, "doc_id", "text")
    assert(survivors.count() <= docs.select("text").distinct().count())
    // clusters only contain docs that actually share a bucket
    val labeled = clusters.groupBy("cluster_id").count()
    assert(labeled.agg(max("count")).head.getLong(0) >= 2,
      "the corpus has near-dups, so some cluster must have >= 2 members")
  }

  test("Similarity.bruteTopK matches the oracle query's top-10") {
    val probe = emb.filter(col("vec_id") === 0)
    val brute = Similarity.bruteTopK(emb, probe, 10).collect().map(_.getLong(0))
    val oracle = SparkEntry.queries("sim_cosine_topk")(spark, sf)
      .collect().map(_.getLong(0))
    assert(brute.sameElements(oracle))
  }

  test("Similarity.annTopK returns the probe itself and real neighbors") {
    val probe = emb.filter(col("vec_id") === 0)
    val ann = Similarity.annTopK(emb, probe, 10, bits = 6, probeHamming = 2).collect()
    assert(ann.nonEmpty)
    assert(ann.head.getLong(0) == 0L, "probe must be its own nearest neighbor")
    // every ANN result must appear in the brute-force full ranking with
    // the same cosine
    val bruteAll = Similarity.bruteTopK(emb, probe, 2000).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ann.foreach(r => assert(math.abs(bruteAll(r.getLong(0)) - r.getDouble(1)) < 1e-12))
  }

  test("Multimodal decode round-trips header metadata through mapPartitions") {
    val media = Multimodal.syntheticMedia(spark, 40)
    val decoded = Multimodal.decodeImages(media).collect()
    assert(decoded.length == 30) // 10 of 40 are audio
    decoded.foreach { d =>
      assert(d.width == 8 + (d.media_id % 5) && d.height == 6 + (d.media_id % 3))
      // real formats now: payload = format header + raster (PPM's text
      // header is variable-length; BMP pads rows to 4 bytes)
      assert(d.n_bytes > d.width * d.height * d.channels.toLong)
      assert(d.mean_px >= 0 && d.mean_px <= 255)
    }
  }

  test("Multimodal.sampleFrames slices payloads without decoding") {
    val media = Multimodal.syntheticMedia(spark, 5)
    val frames = Multimodal.sampleFrames(media, frameBytes = 16, everyNth = 2)
    assert(frames.count() > 0)
    assert(frames.columns.toSeq == Seq("media_id", "frame_no", "frame"))
  }
}
