package graft.m8

import graft.queries.Dsl
import graft.SparkSpec
import graft.Tables
import graft.dedup.Dedup
import graft.functions.{TextFns, VectorFns}
import graft.similarity.Similarity
import org.apache.spark.sql.functions._

/** Unit tests for the LLM-pipeline operators (dedup, similarity, text):
  * hand-computed values and behaviour (caps, sizing, broadcast plans)
  * that the DuckDB-oracle queries do not pin. */
class M8Spec extends SparkSpec {
  import spark.implicits._

  test("token_count and subword_count") {
    val df = Seq("a b  c", "", "  ", "hello, world!").toDF("t")
      .select(TextFns.token_count(col("t")).as("n"),
        TextFns.subword_count(col("t")).as("s"))
    assert(df.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((3, 3), (0, 0), (0, 0), (2, 4)))
  }

  test("language_id picks stopword-majority language") {
    val df = Seq(
      "the cat and the dog is in a house",
      "el perro y la casa de los gatos es",
      "der hund und die katze ist ein zu",
      "xyzzy qwerty").toDF("t")
      .select(TextFns.language_id(col("t")).as("l"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("en", "es", "de", "und"))
  }

  test("word_shingles: distinct 3-gram windows; short docs fall back whole") {
    val sh = Seq("a b c d").toDF("t")
      .select(TextFns.word_shingles(col("t")).as("s")).collect()(0)
      .getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("t")
      .select(TextFns.word_shingles(col("t")).as("s")).collect()(0)
      .getSeq[String](0)
    assert(short == Seq("a b"))
  }

  test("minhash signature agreement tracks jaccard for near-dup docs") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = a.replace("today", "tomorrow") // near dup
    val c = "completely different content about spark query engines at scale"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "text")
    val pairs = Dedup.minhashPairs(df, col("id"), col("text"),
      numHashes = 32, bands = 8, minAgreement = 0.3).collect()
    val ab = pairs.find(r => r.getLong(0) == 1 && r.getLong(1) == 2)
    assert(ab.isDefined, "near-dup pair (1,2) must survive LSH banding")
    assert(ab.get.getDouble(2) > 0.5)
    assert(!pairs.exists(r => r.getLong(1) == 3 || r.getLong(0) == 3))
  }

  test("minhashPairs default banding derives from the agreement threshold") {
    // bands <= 0 resolves via chooseBands(numHashes, minAgreement): at
    // the canonical 32-hash / 0.5 config that is exactly the pinned 8×4
    // (identical pairs); at a recall-leaning 0.35 it derives 16×2 and
    // must match the explicitly-tuned call.
    val docs = (1L to 40L).map { i =>
      val base = s"alpha beta gamma delta epsilon zeta eta theta iota k$i"
      (i, if (i % 2 == 0) base else base + " extra tail words here")
    }.toDF("id", "text")
    def pairSet(bands: Int, agree: Double) =
      Dedup.minhashPairs(docs, col("id"), col("text"), numHashes = 32,
          bands = bands, minAgreement = agree)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Dedup.chooseBands(32, 0.5) == ((8, 4)))
    assert(pairSet(0, 0.5) == pairSet(8, 0.5),
      "default at 0.5 must equal the pinned 8x4")
    assert(Dedup.chooseBands(32, 0.35) == ((16, 2)))
    assert(pairSet(0, 0.35) == pairSet(16, 0.35),
      "default at 0.35 must equal the tuned 16x2")
  }

  test("incremental admission: corpus dup rejects, novel admits, first-seen wins") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val novel = "completely different content about spark query engines at scale"
    val twin = "another fresh document with its own entirely distinct wording here"
    // corpus: doc 1. delta (in id order): 10 = near-dup of corpus,
    // 11 = novel, 12 and 13 = identical to each other but not to corpus
    val docs = Seq(1L -> a, 10L -> a.replace("today", "tomorrow"),
      11L -> novel, 12L -> twin, 13L -> twin).toDF("id", "text")
    val sigs = Dedup.minhashSignatures(docs, col("id"), col("text"), 32)
    val out = Dedup.minhashIncremental(
        sigs.filter(col("id") === 1), sigs.filter(col("id") >= 10),
        bands = 8, rowsPerBand = 4, minAgreement = 0.3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(out(10L)._1 == "reject" && out(10L)._2 == 1L)
    assert(out(11L)._1 == "admit")
    assert(out(12L)._1 == "admit", "first of the twin pair is novel")
    assert(out(13L)._1 == "reject" && out(13L)._2 == 12L)
    assert(out.size == 4)
  }

  test("incremental admission: an id re-sent in the delta while already " +
       "admitted scores each partner once — n_dups is distinct partners " +
       "under both signature and embedding screens") {
    // corpus holds doc 1; the delta RE-SENDS doc 1 (same id, same
    // content) alongside the near-dup 10 — the union of corpus and
    // delta then carries id 1's signature twice, and an unguarded
    // count would tally the (10, 1) pair once per copy
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(1L -> a, 10L -> a.replace("today", "tomorrow"))
      .toDF("id", "text")
    val sigs = Dedup.minhashSignatures(docs, col("id"), col("text"), 32)
    val mOut = Dedup.minhashIncremental(
        sigs.filter(col("id") === 1), sigs,
        bands = 8, rowsPerBand = 4, minAgreement = 0.3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(4)))
      .toMap
    assert(mOut(10L) == ("reject", 1L),
      s"re-sent partner must count once, got ${mOut(10L)}")
    val vecs = Seq((1L, Seq(1f, 0f, 0f, 0f)),
      (10L, Seq(0.99f, 0.01f, 0f, 0f))).toDF("id", "v")
    val eOut = Dedup.embeddingIncremental(
        vecs.filter(col("id") === 1), vecs, planes = 2, minCosine = 0.9,
        dim = 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(4)))
      .toMap
    assert(eOut(10L) == ("reject", 1L),
      s"re-sent partner must count once, got ${eOut(10L)}")
  }

  test("simhash: near-dups within small hamming distance, distinct docs far") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = a.replace("today", "tomorrow")
    val df = Seq((1L, a), (2L, b)).toDF("id", "text")
    val sigs = Dedup.simhashSignatures(df, col("id"), col("text"))
      .orderBy("id").collect().map(_.getLong(1))
    val hamming = java.lang.Long.bitCount(sigs(0) ^ sigs(1))
    assert(hamming <= 16, s"near-dup hamming was $hamming")
  }

  test("exact dedup groups identical texts") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("id", "text")
    val out = Dedup.exactSurvivors(df, col("id"), col("text"))
      .orderBy("survivor_id").collect()
    assert(out.length == 2)
    assert(out(0).getLong(1) == 1L && out(0).getLong(2) == 2L)
  }

  test("ngram jaccard finds the planted near-dups in documents") {
    val pairs = Dedup.ngramJaccardPairs(Tables.documents(spark, sf),
      col("doc_id"), col("text"), 0.5)
    assert(pairs.count() > 0)
    assert(pairs.filter(col("jaccard") > 1.0 || col("jaccard") < 0.5).count() == 0)
  }

  test("cosine/dot/norm basics") {
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 1.0f), Array(1.0f, 1.0f))).toDF("a", "b")
      .select(VectorFns.cosine(col("a"), col("b")).as("c"))
    val c = df.collect().map(_.getDouble(0))
    assert(math.abs(c(0)) < 1e-12 && math.abs(c(1) - 1.0) < 1e-12)
  }

  test("cluster survivors: best quality wins, id breaks ties, singletons keep") {
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // cluster 1: three members
      (7L, 7L), (8L, 7L),           // cluster 7: quality tie → min id wins
      (9L, 9L))                     // singleton
      .toDF("doc_id", "cluster_id")
    val quality = Seq(
      (1L, 10L), (2L, 99L), (3L, 50L),
      (7L, 5L), (8L, 5L), (9L, 0L)).toDF("doc_id", "score")
    val out = Dedup.clusterSurvivors(clusters, quality)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(2L) == (true, 2L, 3L) && out(1L) == (false, 2L, 3L) &&
      out(3L) == (false, 2L, 3L))
    assert(out(7L) == (true, 7L, 2L) && out(8L) == (false, 7L, 2L))
    assert(out(9L) == (true, 9L, 1L))
  }

  test("cluster survivors: docs without quality rows rank last, never vanish") {
    val clusters = Seq(
      (1L, 1L), (2L, 1L),  // doc 2 has no quality row → doc 1 survives
      (5L, 5L), (6L, 5L))  // NO member has quality → min id survives
      .toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 3L)).toDF("doc_id", "score")
    val out = Dedup.clusterSurvivors(clusters, quality)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.size == 4, s"verdict dropped docs: ${out.keySet}")
    assert(out(1L) == (true, 1L, 2L) && out(2L) == (false, 1L, 2L))
    assert(out(5L) == (true, 5L, 2L) && out(6L) == (false, 5L, 2L))
  }

  test("embedding pairs: hot bucket is capped, no quadratic row count") {
    // 100 identical vectors land in ONE hyperplane bucket (plus 20
    // scattered others) — uncapped that bucket alone yields C(100,2) =
    // 4950 pairs; with maxBucket=10 the survivors pair into exactly
    // C(10,2) = 45 (all cosine 1.0, all ≥ minCosine)
    val hot = (1L to 100L).map(i => (i, Array.fill(8)(1.0f)))
    val rnd = new scala.util.Random(3)
    val cold = (101L to 120L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val vecs = (hot ++ cold).toDF("vec_id", "embedding")
    val capped = Dedup.embeddingPairs(vecs, col("vec_id"), col("embedding"),
      minCosine = 0.999, planes = 6, dim = 8, maxBucket = 10)
    val hotPairs = capped.filter(col("id_a") <= 100 && col("id_b") <= 100)
    assert(hotPairs.count() == 45,
      s"expected C(10,2)=45 hot-bucket pairs, got ${hotPairs.count()}")
    // the cap draw is deterministic: same input, same survivors
    val again = Dedup.embeddingPairs(vecs, col("vec_id"), col("embedding"),
      minCosine = 0.999, planes = 6, dim = 8, maxBucket = 10)
      .filter(col("id_a") <= 100 && col("id_b") <= 100)
    assert(again.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      hotPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("choosePlanes keeps expected bucket population at or below target") {
    // the config step that keeps embeddingPairs linear as a corpus grows:
    // expected bucket population n / 2^planes must land <= targetBucket
    for (n <- Seq(1000L, 50000L, 5000000L, 10000000000L);
         target <- Seq(256, 512, 4096)) {
      val p = Dedup.choosePlanes(n, target)
      assert(p >= 4 && p <= 30)
      if (p < 30)
        assert(n.toDouble / math.pow(2, p) <= target,
          s"n=$n target=$target planes=$p leaves expected bucket too hot")
      if (p > 4) // minimality: one fewer plane would overshoot the target
        assert(n.toDouble / math.pow(2, p - 1) > target ||
          Dedup.choosePlanes(n, target) == 4)
    }
    // 10x the corpus costs ~log2(10) ~ 3-4 extra planes, not a rework
    assert(Dedup.choosePlanes(50000) - Dedup.choosePlanes(5000) <= 4)
  }

  test("embeddingPairs default derives planes from the live corpus") {
    // Two corpus sizes straddling a sizing step: 1 000 vecs size to the
    // 4-plane floor, 24 000 to 6 planes — the default (planes omitted)
    // must emit exactly the explicitly-sized config's pairs at BOTH
    // sizes, and the sized bucketing must keep mean occupied-bucket
    // population within 2x the 512 target (the linear-scaling invariant
    // the sizing rule exists for).
    val rnd = new scala.util.Random(11)
    def corpus(n: Int) =
      (1L to n.toLong).map(i => (i, Array.fill(4)(rnd.nextFloat() * 2 - 1)))
        .toDF("vec_id", "embedding")
    for (n <- Seq(1000, 24000)) {
      val vecs = corpus(n).persist()
      val sized = Dedup.choosePlanes(n)
      assert(sized == (if (n == 1000) 4 else 6))
      val byDefault = Dedup.embeddingPairs(vecs, col("vec_id"),
          col("embedding"), minCosine = 0.99, dim = 4, maxBucket = Int.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val explicit = Dedup.embeddingPairs(vecs, col("vec_id"),
          col("embedding"), minCosine = 0.99, planes = sized, dim = 4,
          maxBucket = Int.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(byDefault == explicit,
        s"n=$n: default path diverged from explicit planes=$sized")
      val pops = vecs
        .select(graft.functions.VectorFns
          .hyperplane_bucket(col("embedding"), sized, 4).as("b"))
        .groupBy("b").count().collect().map(_.getLong(1))
      val mean = pops.sum.toDouble / pops.length
      assert(mean <= 2 * 512,
        s"n=$n planes=$sized mean occupied bucket population $mean")
      vecs.unpersist()
    }
  }

  test("embedding pairs: the hot-bucket cap reports its truncation") {
    // same planted hot bucket as above: 100 docs collapse into one
    // hyperplane bucket, maxBucket=10 keeps 10 — the TopKPerKey
    // droppedRows metric must account for the 90 excluded docs (summed
    // over the partial+final pair it telescopes to docs-in − docs-out),
    // so a production caller can alarm on silent recall loss
    val hot = (1L to 100L).map(i => (i, Array.fill(8)(1.0f)))
    val vecs = hot.toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(vecs, col("vec_id"), col("embedding"),
      minCosine = 0.999, planes = 6, dim = 8, maxBucket = 10)
    // collect() drives THIS Dataset's queryExecution (count() would spin
    // up a separate aggregate execution whose metrics we can't see)
    pairs.collect()
    def find(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[graft.plans.TopKPerKeyExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        find(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        find(q.plan)
      case t: graft.plans.TopKPerKeyExec => t +: t.children.flatMap(find)
      case other => other.children.flatMap(find)
    }
    val execs = find(pairs.queryExecution.executedPlan)
    assert(execs.nonEmpty, "cap did not plan through TopKPerKey")
    val dropped = execs.map(_.metrics("droppedRows").value).sum
    // one logical evaluation of the cap drops exactly 90 docs (100 in,
    // 10 out); the self-join re-evaluates parts of the chain per branch
    // (modulo AQE exchange reuse), so the metric sum is at least that
    assert(dropped >= 90, s"expected >= 90 dropped docs, got $dropped")
  }

  test("lsh topk: per-task candidate cap bounds hot-bucket fan-in") {
    // all candidates share the query's bucket; with maxBucket=5 each task
    // scores at most 5 of them, and the result stays a valid top-k (all
    // cosines 1.0 here, so any capped subset is equally correct)
    val cands = (1L to 200L).map(i => (i, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val q = Seq((1000L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(q, cands, k = 10, planes = 4, maxBucket = 5)
      .collect()
    assert(out.nonEmpty && out.length <= 10)
    assert(out.forall(r => math.abs(r.getDouble(3) - 1.0) < 1e-9))
  }

  test("lsh topk achieves reasonable recall of brute-force topk") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 8)
    val brute = Similarity.bruteForceTopK(q, emb, 5)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(q, emb, 5, planes = 4)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    // this corpus is random vectors: best neighbors sit at cosine ≈ 0.3
    // (θ ≈ 72°), so same-bucket probability is (1-θ/π)^4 ≈ 0.13 — assert
    // the mechanism works, not a recall this data can't offer
    assert(recall > 0.05, s"LSH recall $recall below theoretical floor")
    assert(lsh.size <= brute.size)
  }

  test("screenAgainst: hand-computed cosines, rounded-threshold flag") {
    def row(id: Long, v: Seq[Float]) = (id, v)
    val bench = Seq(row(0L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      row(1L, Seq(2f, 0f)),              // cos  1.0
      row(2L, Seq(0f, 3f)),              // cos  0.0
      row(3L, Seq(-1f, 0f)),             // cos -1.0
      row(4L, Seq(1f, 1f)),              // cos  0.707107
      row(5L, Seq(0f, 0f))               // zero vector -> cos 0.0
    ).toDF("vec_id", "embedding")
    val got = Similarity.screenAgainst(corpus, bench, tau = 0.5)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSeq
    assert(got == Seq(
      (1L, 1.0, true), (2L, 0.0, false), (3L, -1.0, false),
      (4L, 0.707107, true), (5L, 0.0, false)))
  }

  test("screenAgainst: max over the benchmark set, not the first hit") {
    val bench = Seq((0L, Seq(1f, 0f)), (10L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    // vector aligned with the SECOND benchmark row must still flag
    val corpus = Seq((1L, Seq(0f, 5f))).toDF("vec_id", "embedding")
    val got = Similarity.screenAgainst(corpus, bench, tau = 0.9).collect()(0)
    assert(got.getDouble(1) == 1.0 && got.getBoolean(2))
  }

  test("ivf topk: candidate reduction with recall against brute force") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 8)
    val brute = Similarity.bruteForceTopK(q, emb, 5)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(q, emb, 5, nlist = 16, nprobe = 4)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    // random corpus: probing 4/16 lists scans ~25% of candidates; a
    // query's strongest neighbors skew toward its own centroid's list,
    // so recall must land clearly above the 25% random-scan floor
    assert(recall > 0.3, s"IVF recall $recall not above random-scan floor")
    assert(ivf.size <= brute.size)
    // determinism: same centroids, same assignment, same ranking
    val again = Similarity.ivfTopK(q, emb, 5, nlist = 16, nprobe = 4)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == ivf)
  }

  test("ivf lloyd training balances inverted lists on planted clusters") {
    // 4 planted clusters on near-orthogonal directions with deterministic
    // jitter. md5-sampled seeds land on arbitrary corpus points — often
    // several inside one cluster — so untrained lists skew; two Lloyd
    // rounds must move the centroids toward the cluster modes and even
    // the lists out (max/median bounded), without losing recall.
    val rows = for {
      cl <- 0 until 4
      i  <- 0 until 60
    } yield {
      val base = Array.fill(8)(0.0f)
      base(cl * 2) = 1.0f
      val jit = base.zipWithIndex.map { case (x, d) =>
        x + 0.08f * (((cl * 60 + i) * 31 + d * 7) % 11 - 5) / 5.0f
      }
      ((cl * 60 + i + 1).toLong, jit)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val c = emb.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
    def listSizes(cent: org.apache.spark.sql.DataFrame): Seq[Long] =
      Similarity.ivfAssign(c, cent).groupBy("cent_id").count()
        .collect().map(_.getLong(1)).sorted.toSeq
    val seeds = Similarity.trainIvfCentroids(emb, nlist = 4, iters = 0)
    val trained = Similarity.trainIvfCentroids(emb, nlist = 4, iters = 2)
    val before = listSizes(seeds)
    val after = listSizes(trained)
    // trained: every surviving list within 2× the median — the planted
    // clusters are recoverable, so a still-skewed partition means the
    // M-step didn't move the centroids
    val median = after(after.length / 2).toDouble
    assert(after.max <= 2 * median,
      s"trained lists skewed: $after (seeds gave $before)")
    assert(after.max <= before.max,
      s"training worsened the largest list: $before -> $after")
    // and training must not cost recall at equal nprobe
    val q = emb.filter(col("vec_id") <= 8)
    val brute = Similarity.bruteForceTopK(q, emb, 5)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(iters: Int): Double = {
      val got = Similarity.ivfTopK(q, emb, 5, nlist = 4, nprobe = 1,
        lloydIters = iters)
        .select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute & got).size.toDouble / brute.size
    }
    val (r0, r2) = (recallOf(0), recallOf(2))
    assert(r2 >= r0, s"training lost recall: untrained $r0 vs trained $r2")
    assert(r2 > 0.9, s"trained IVF recall $r2 on separable clusters")
  }

  test("quantized-list ivf: rescore recovers the float ranking") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 8)
    def ids(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val float = ids(Similarity.ivfTopK(q, emb, 5, nlist = 16, nprobe = 4))
    val quant = Similarity.ivfTopKQuantized(q, emb, 5, nlist = 16,
      nprobe = 4, rescoreK = 15)
    val qIds = ids(quant)
    // int8 cosine error is ~1e-2; a 3× rescore depth must absorb it —
    // the exact-rescored shortlist recovers (nearly) the float top-5
    val recall = (float & qIds).size.toDouble / float.size
    assert(recall >= 0.8, s"quantized IVF recall vs float path: $recall")
    // determinism: floor-quantization + id tiebreaks, bit-stable
    assert(ids(Similarity.ivfTopKQuantized(q, emb, 5, nlist = 16,
      nprobe = 4, rescoreK = 15)) == qIds)
  }

  test("int8 quantization: round-trip error bounded by scale/254, zeros safe") {
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("id", "v")
    val out = df.select(col("id"),
        graft.functions.VectorFns.quantize_scale(col("v")).as("scale"),
        graft.functions.VectorFns.quantize_i8(col("v")).as("q"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getSeq[Int](2))).toMap
    assert(out(1L)._1 == 1.0)
    assert(out(1L)._2 == Seq(64, -127, 32, 0)) // floor(x*127 + .5)
    assert(out(2L)._1 == 0.0 && out(2L)._2 == Seq(0, 0, 0, 0))
    // dequantized error ≤ half a quantization step on every lane
    val v = Array(0.5, -1.0, 0.25, 0.0)
    out(1L)._2.zip(v).foreach { case (q, x) =>
      assert(math.abs(q / 127.0 * out(1L)._1 - x) <= out(1L)._1 / 254.0 + 1e-12)
    }
  }

  test("hyperplane bucket is deterministic and bounded") {
    val emb = Tables.embeddings(spark, sf).limit(50)
    val b1 = emb.select(VectorFns.hyperplane_bucket(col("embedding"), 8).as("b"))
      .collect().map(_.getInt(0))
    assert(b1.forall(b => b >= 0 && b < 256))
    val b2 = emb.select(VectorFns.hyperplane_bucket(col("embedding"), 8).as("b"))
      .collect().map(_.getInt(0))
    assert(b1.toSeq == b2.toSeq)
  }

  test("doc fingerprint: identical normalized text → identical fingerprint") {
    val df = Seq("Hello   World", "hello world", "other doc").toDF("t")
      .select(TextFns.doc_fingerprint(col("t"), 8).as("f"))
    val f = df.collect().map(_.getString(0))
    assert(f(0) == f(1) && f(0) != f(2))
  }

  test("chooseBands lands the S-curve threshold on the target jaccard") {
    // 32 hashes: thresholds are 1.0 (1×32), .958 (2×16), .841 (4×8),
    // .595 (8×4), .25 (16×2), .031 (32×1) — 0.5 picks the shipped 8×4
    assert(Dedup.chooseBands(32, 0.5) == (8, 4))
    assert(Dedup.chooseBands(32, 0.85) == (4, 8))
    assert(Dedup.chooseBands(32, 0.25) == (16, 2))
    assert(Dedup.chooseBands(128, 0.8) == (8, 16)) // (1/8)^(1/16) = .878
    // S-curve sanity at the chosen config: steep around the threshold
    val p = (s: Double) => Dedup.candidateProbability(s, 8, 4)
    assert(p(0.2) < 0.15 && p(0.595) > 0.45 && p(0.595) < 0.75 && p(0.9) > 0.99)
    assert(p(0.3) < p(0.5) && p(0.5) < p(0.7)) // monotone
  }

  test("cluster-keyed split can never tear a near-dup pair") {
    // three chained pairs forming one cluster + isolated docs: every
    // member must land in the same split because the key is the label
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = graft.ops.ConnectedComponents.run(pairs)
    val assign = cc.select(col("id"), col("label"),
      graft.ops.Sampling.splitColumn(col("label"), "s",
        Seq("train" -> 0.5, "test" -> 0.5)).as("split"))
    val perCluster = assign.groupBy("label")
      .agg(countDistinct("split").as("n_splits"))
      .select(max("n_splits")).as[Long].head()
    assert(perCluster == 1L)
  }

  test("pairEval: confusion counts and basis-point scores, floor math") {
    val truth = Seq((1L, 2L), (1L, 3L), (4L, 5L), (6L, 7L)).toDF("id_a", "id_b")
    val cand = Seq((1L, 2L), (4L, 5L), (8L, 9L)).toDF("id_a", "id_b")
    val r = Dedup.pairEval(truth, cand).collect().head
    // hits = {(1,2),(4,5)}: precision 2/3, recall 2/4
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (4L, 3L, 2L))
    assert(r.getLong(3) == 6666L) // floor(20000/3)
    assert(r.getLong(4) == 5000L)
    assert(r.getLong(5) == (2L * 6666 * 5000) / (6666 + 5000)) // 5714
  }

  test("pairEval: empty candidate set scores zero without dividing by zero") {
    val truth = Seq((1L, 2L)).toDF("id_a", "id_b")
    val cand = truth.filter(col("id_a") < 0)
    val r = Dedup.pairEval(truth, cand).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (1L, 0L, 0L))
    assert(r.getLong(3) == 0L && r.getLong(4) == 0L && r.getLong(5) == 0L)
  }

  test("pairEval: perfect generator scores 10000 across the board") {
    val p = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val r = Dedup.pairEval(p, p).collect().head
    assert(r.getLong(3) == 10000L && r.getLong(4) == 10000L &&
      r.getLong(5) == 10000L)
  }

  test("ann index store: serve-from-parquet equals the fused path") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 8)
    val fused = Similarity.ivfTopKQuantized(q, emb, 5, nlist = 16,
      nprobe = 4, lloydIters = 2, rescoreK = 15)
      .select("query_id", "rank", "cand_id").collect().toSet
    val root = Dsl.tempDir("annstore")
    val (cent, lists) = Similarity.ivfBuildQuantized(emb, 16, 2)
    cent.write.mode("overwrite").parquet(root + "/centroids")
    lists.write.mode("overwrite").parquet(root + "/lists")
    // the lists frame must carry no float payload — codes only
    val listSchema = spark.read.parquet(root + "/lists").schema
    assert(listSchema.fieldNames.toSet === Set("cand_id", "cent_id", "code"))
    assert(listSchema("code").dataType ===
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false) ||
      listSchema("code").dataType.simpleString.startsWith("array<int>"))
    val served = Similarity.ivfServeQuantized(q,
      spark.read.parquet(root + "/centroids"),
      spark.read.parquet(root + "/lists"), emb, 5,
      nprobe = 4, rescoreK = 15)
      .select("query_id", "rank", "cand_id").collect().toSet
    assert(served === fused, "stored index served a different ranking")
  }

  test("minhashIncremental broadcastDelta: identical verdicts, broadcast plan") {
    // the micro-batch screen shape: broadcasting the delta's band/sig
    // rows must change the PLAN (corpus scanned, never shuffled) and
    // nothing else
    val d = Tables.spread(Tables.documents(spark, sf))
    val sigs = Dedup.minhashSignatures(d, col("doc_id"), col("text"),
      numHashes = 32).persist()
    val corpus = sigs.filter(col("id") % 5 =!= 4)
    val delta = sigs.filter(col("id") % 5 === 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3),
        r.getLong(4))).toSet
    val plain = Dedup.minhashIncremental(corpus, delta)
    val bc = Dedup.minhashIncremental(corpus, delta,
      broadcastDelta = true)
    assert(rows(bc) == rows(plain),
      "broadcastDelta changed the verdicts — it must be plan-only")
    val p = bc.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"expected the band join AND the signature re-join broadcast:\n$p")
    // pair-side guard: the wide (pair, sig) broadcast is gated on the
    // MEASURED candidate count, not the delta size that can't bound it
    // in a collision-heavy corpus — forcing the cap to 0 must fall the
    // re-join back to the shuffle path with identical verdicts
    val guarded = Dedup.minhashIncremental(corpus, delta,
      broadcastDelta = true, broadcastPairsUpTo = 0L)
    assert(rows(guarded) == rows(plain),
      "pair-broadcast fallback changed the verdicts — it must be plan-only")
    sigs.unpersist()
  }

  test("sampled config grading approximates the full-corpus scorecard") {
    // The scale path for LSH config grading: scores measured on a
    // hash-stratified half-document sample must approximate the full
    // scorecard (pair inclusion is fraction², ratios are estimators).
    // Tolerance 2000 bp — generous against binomial noise at this
    // corpus size, but far tighter than the gap between a working and
    // a broken config (which scores thousands of bp apart).
    val dir = "/root/testdata/sf0.01"
    def row(df: org.apache.spark.sql.DataFrame): Map[String, Long] = {
      val r = df.collect().head
      df.columns.map(c => c -> r.getAs[Long](c)).toMap
    }
    val full = row(graft.SparkEntry.queries("m8_dedup_eval")(spark, dir))
    val samp = row(graft.SparkEntry.queries("m8_dedup_eval_sampled")(spark, dir))
    assert(samp("n_truth") > 0, "sample lost every truth pair — no signal")
    // the deterministic draw keeps roughly fraction of the docs (5σ
    // binomial bound at n≈500, f=0.5 → ±56)
    val nDocs = Tables.documents(spark, dir).count()
    assert(math.abs(samp("n_docs_sampled") - nDocs / 2) <
      5 * math.sqrt(nDocs * 0.25) + 1,
      s"sample size ${samp("n_docs_sampled")} implausible for $nDocs docs")
    for (m <- Seq("precision_bp", "recall_bp", "f1_bp"))
      assert(math.abs(samp(m) - full(m)) <= 2000,
        s"$m: sampled ${samp(m)} vs full ${full(m)} drifted past 2000 bp")
    // and the truth volume itself scales ~fraction² (the cost claim):
    // loose 4× bounds — pair survival is correlated within clusters
    assert(samp("n_truth") <= full("n_truth"),
      "a sampled truth pair must be a full-corpus truth pair")
    assert(samp("n_truth") * 16 >= full("n_truth"),
      s"sampled truth ${samp("n_truth")} too thin vs full ${full("n_truth")}")
    // determinism: the salted-hash draw is rerun-stable
    val again = row(graft.SparkEntry.queries("m8_dedup_eval_sampled")(spark, dir))
    assert(again == samp, "sampled scorecard must be rerun-stable")
  }

  test("diversity sample: per-cluster cap holds, clusters covered, rerun stable") {
    val got = graft.SparkEntry.queries("m8_diversity_sample")(spark, sf)
      .collect().map(r => (r.getAs[Long]("cent_id"), r.getAs[Long]("cand_id")))
    val byCluster = got.groupBy(_._1)
    assert(byCluster.values.forall(_.length <= 10), "per-cluster cap breached")
    assert(byCluster.size > 1, "sample collapsed to one cluster")
    val again = graft.SparkEntry.queries("m8_diversity_sample")(spark, sf)
      .collect().map(r => (r.getAs[Long]("cent_id"), r.getAs[Long]("cand_id")))
    assert(again.toSet === got.toSet, "hash-ordered draw must be stable")
  }

  test("bm25/phrase serves broadcast their query tables") {
    import graft.ops.TextCorpus
    val d = Tables.spread(Tables.documents(spark, sf))
    val q = d.filter(col("doc_id") % 7 === 3)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(coalesce(col("text"), lit(""))),
          "\\s+"), 1, 4), " ").as("query_text"))
    // the query tables broadcast into the postings join, so the corpus
    // never shuffles by query count — forced, so it holds with the
    // planner's size-based broadcast switched off too
    val ph = d.filter(col("doc_id") % 7 === 3)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(coalesce(col("text"), lit(""))),
          "\\s+"), 2, 3), " ").as("query_text"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bc = TextCorpus.bm25TopK(d, col("doc_id"), col("text"), q, k = 5)
      val pBc = bc.queryExecution.executedPlan.toString
      assert("BroadcastHashJoin".r.findAllIn(pBc).length >= 2,
        s"expected broadcast qterms + dfq joins:\n$pBc")
      assert(bc.count() > 0)
      val phBc = TextCorpus.phraseSearch(d, col("doc_id"), col("text"), ph, 5)
      val pPh = phBc.queryExecution.executedPlan.toString
      assert("BroadcastHashJoin".r.findAllIn(pPh).length >= 2,
        s"expected broadcast qoff + qlen joins:\n$pPh")
      assert(phBc.count() > 0)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }
}
