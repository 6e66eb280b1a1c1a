package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.{TextFns, VectorFns}

/** Deduplication operators for training-data pipelines (north-star scope):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.
  *
  * Scale design (the part that matters at 100 TB):
  *  - exact dedup is one hash-shuffle on a 16-byte key (not the payload);
  *  - MinHash/SimHash signatures are computed in a single aggregation
  *    pass, and LSH banding turns the O(n²) candidate search into an
  *    equi-join on band keys — only docs sharing a band ever meet;
  *  - the band/block self-joins carry ONLY (id, band-key): signatures are
  *    joined back to the deduplicated pair list afterwards, so the wide
  *    arrays never ride the candidate shuffle and each pair is scored
  *    exactly once;
  *  - n-gram Jaccard uses prefix filtering (AllPairs/PPJoin): candidates
  *    come from a join on each doc's rarest shingles only — lossless for
  *    the threshold, and hot-shingle skew no longer produces n² rows;
  *  - `id < id2` keeps each pair once and makes output deterministic.
  *
  * Every signature family hashes through md5
  * ([[graft.functions.TextFns.portable_hash60]] and its one-digest
  * MinHash and hyperplane-weight siblings), so an independent engine —
  * the DuckDB correctness oracle — rebuilds byte-identical signatures,
  * and the operators a pipeline runs are the ones the oracle verifies.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per identical text. The md5 group
    * key shuffles 16 bytes/row instead of the document payload. */
  def exactSurvivors(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"), md5(text.cast("binary")).as("content_key"))
      .groupBy("content_key")
      .agg(min("doc_id").as("survivor_id"), count(lit(1)).as("n_copies"))

  /** MinHash signatures via the single-pass aggregation shape: explode
    * shingles once, then ONE codegen'd groupBy computing all `numHashes`
    * mins together (vs. `numHashes` interpreted array passes per row —
    * 30× faster at sf0.1 and the right plan at 100 TB: partial min on the
    * map side means the shuffle carries `numHashes` longs per doc).
    *
    * Each shingle is digested ONCE and all slots derive by double
    * hashing ([[graft.expressions.PortableMinHashes]]), so the md5 cost
    * is per-shingle, not per-shingle-per-seed; `numHashes` ≤ 63. */
  def minhashSignatures(docs: DataFrame, id: Column, text: Column,
                        numHashes: Int): DataFrame = {
    val hashed = docs.select(id.as("id"),
        explode(TextFns.word_shingles(text)).as("shingle"))
      .select(col("id"), graft.expressions.PortableMinHashes
        .portable_minhashes(col("shingle"), numHashes).as("hs"))
    val minCols = (0 until numHashes).map { seed =>
      min(element_at(col("hs"), seed + 1)).as(s"h$seed")
    }
    hashed.groupBy("id").agg(minCols.head, minCols.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash+LSH near-dup candidate pairs with verified signature overlap.
    * Returns (id_a, id_b, sig_agreement) for pairs sharing ≥1 band whose
    * signature agreement ≥ `minAgreement` (agreement estimates Jaccard).
    *
    * Stage shape: the band self-join carries only (id, band-key) — never
    * the signatures — then the pair list is deduplicated and signatures
    * join back once, so each candidate pair is scored exactly once and
    * the candidate shuffle stays `numHashes`-free. Signatures are
    * persisted for the three uses (banding + two joins back); at
    * production scale you'd keep that persist or write them to a table.
    *
    * `sig_agreement` is k/numHashes — a dyadic rational, exact in IEEE
    * doubles on every engine, so it is safe to hash-compare.
    *
    * `bands <= 0` (the default) derives the banding from the agreement
    * threshold via [[chooseBands]] — the S-curve's 50%-candidate point
    * lands nearest `minAgreement`, so the candidate net matches the
    * verification bar by construction (at the 32-hash / 0.5 config this
    * derives the same 8×4 every pinned caller uses). Pass an explicit
    * count only when replaying a pinned config. */
  def minhashPairs(docs: DataFrame, id: Column, text: Column,
                   numHashes: Int = 32, bands: Int = 0,
                   minAgreement: Double = 0.5): DataFrame = {
    val nBands =
      if (bands > 0) bands else chooseBands(numHashes, minAgreement)._1
    val rowsPerBand = numHashes / nBands
    val sigs = minhashSignatures(docs, id, text, numHashes)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val banded = sigs.select(col("id"),
      explode(TextFns.minhash_bands(col("sig"), nBands, rowsPerBand)).as("bk"))
    val pairs = banded.select(col("id").as("id_a"), col("bk"))
      .join(banded.select(col("id").as("id_b"), col("bk")), Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        // fused codegen kernel — same 0/1 left fold as the zip_with
        // formulation it replaces (VectorKernelsSpec pins bit-parity)
        (graft.expressions.VectorKernels.sig_agreement(
          col("sig_a"), col("sig_b")) / numHashes).as("sig_agreement"))
      .filter(col("sig_agreement") >= minAgreement)
  }

  /** Incremental MinHash admission: screen a DELTA batch against an
    * already-signed CORPUS — the shape a growing training corpus needs,
    * where yesterday's documents are signed once, stored, and never
    * re-paired among themselves. Both inputs are signature tables
    * `(id, sig)` (from [[minhashSignatures]] or a signature store).
    *
    * A delta doc is rejected when its signature agreement with any
    * corpus doc — or any EARLIER delta doc (id order; "seen" beats
    * "admitted", so the rule is one-pass, not sequential) — reaches
    * `minAgreement`. Candidates come from the same LSH band equi-join as
    * [[minhashPairs]], made asymmetric: only delta docs sit on the probe
    * side, so corpus×corpus pairs are never generated. The band join
    * carries (id, band-key) only; signatures join back to the
    * deduplicated candidate list and each pair is scored once.
    *
    * Returns one row per delta doc: verdict admit/reject, the smallest
    * matching id (`dup_of`), best agreement, match count.
    *
    * Corpus and delta id sets are expected to be DISJOINT (a delta doc
    * is by definition not yet in the corpus); as a guard, an id present
    * on both sides is never matched against itself, so a violated
    * precondition degrades to "screened against the others" rather than
    * a guaranteed self-rejection at agreement 1.0.
    *
    * `broadcastDelta`: the micro-batch admission shape. The default
    * plan shuffles BOTH sides of the band join — corpus band rows
    * (8 per stored document) cross the network on every call, the term
    * that dominates per-batch screen cost once the corpus dwarfs the
    * delta. With `broadcastDelta = true` the delta side of the band
    * join AND the candidate side of the signature re-join are
    * broadcast, so the corpus is only ever SCANNED — zero corpus-sized
    * shuffles per batch; the only shuffles left are candidate-sized
    * (distinct + the verdict groupBy). Identical output (M8Spec pins
    * the equality; the stream gates hash it end-to-end). Only for
    * bounded deltas — a broadcast hint is unconditional, so a
    * corpus-sized "delta" belongs on the default path.
    *
    * `broadcastPairsUpTo`: the pair-side guard. A bounded DELTA does
    * not bound the CANDIDATE set — in a heavily duplicated corpus (the
    * reason this operator exists) band collisions can fan a small
    * batch out to many times its size, and the signature re-join
    * broadcasts (pair, sig) rows, the widest frame in the plan. When
    * `broadcastDelta` is on, the candidate list is therefore
    * materialized (localCheckpoint — it feeds two consumers anyway)
    * and the re-join only broadcasts if the ACTUAL pair count is
    * within this cap; past it, the re-join falls back to the shuffle
    * path (with that many pairs, shuffling is the memory-safe side of
    * the trade) while the band join keeps its delta-row broadcast. */
  def minhashIncremental(corpusSigs: DataFrame, deltaSigs: DataFrame,
                         bands: Int = 8, rowsPerBand: Int = 4,
                         minAgreement: Double = 0.5,
                         broadcastDelta: Boolean = false,
                         broadcastPairsUpTo: Long = 2000000L): DataFrame = {
    val numHashes = bands * rowsPerBand
    def banded(sigs: DataFrame): DataFrame =
      sigs.select(col("id"),
        explode(TextFns.minhash_bands(col("sig"), bands, rowsPerBand)).as("bk"))
    val build = banded(corpusSigs).withColumn("is_corpus", lit(true))
      .unionByName(banded(deltaSigs).withColumn("is_corpus", lit(false)))
      .select(col("id").as("cand_id"), col("bk"), col("is_corpus"))
    val deltaBand = banded(deltaSigs).select(col("id").as("new_id"), col("bk"))
    val bandJoined =
      if (broadcastDelta) build.join(broadcast(deltaBand), Seq("bk"))
      else deltaBand.join(build, Seq("bk"))
    val cand0 = bandJoined
      .filter((col("is_corpus") && col("cand_id") =!= col("new_id")) ||
        (!col("is_corpus") && col("cand_id") < col("new_id")))
      .select("new_id", "cand_id")
      .distinct()
    // broadcastDelta: materialize the candidate list once (it feeds the
    // sig join and the pair-count guard) and gate the wide pair-side
    // broadcast on the measured count, not on the delta size that
    // can't bound it
    val cand = if (broadcastDelta) cand0.localCheckpoint() else cand0
    val broadcastPairs = broadcastDelta && cand.count() <= broadcastPairsUpTo
    val allSigs = corpusSigs.unionByName(deltaSigs)
    val withNew = cand
      .join(deltaSigs.select(col("id").as("new_id"), col("sig").as("sig_n")),
        Seq("new_id"))
    val corpusSide = allSigs.select(col("id").as("cand_id"),
      col("sig").as("sig_c"))
    val paired =
      if (broadcastPairs) corpusSide.join(broadcast(withNew), Seq("cand_id"))
      else withNew.join(corpusSide, Seq("cand_id"))
    val hits = paired
      .select(col("new_id"), col("cand_id"),
        // fused codegen kernel — same 0/1 left fold as the zip_with
        // formulation it replaces (VectorKernelsSpec pins bit-parity)
        (graft.expressions.VectorKernels.sig_agreement(
          col("sig_n"), col("sig_c")) / numHashes).as("sig_agreement"))
      .filter(col("sig_agreement") >= minAgreement)
      .groupBy("new_id")
      // countDistinct, not count: an id RE-SENT in the delta while
      // already admitted appears twice in allSigs (once per side of the
      // union), so each candidate pair joins two signature rows; the
      // distinct count makes n_dups "distinct matching partners" either
      // way, and dup_of/best_agreement (min/max) are insensitive to the
      // duplicate row. With unique ids (the steady-state contract)
      // countDistinct == count, so the oracles are unchanged.
      .agg(min("cand_id").as("dup_of"),
        max("sig_agreement").as("best_agreement"),
        countDistinct("cand_id").as("n_dups"))
    deltaSigs.select(col("id").as("doc_id"))
      .join(hits.withColumnRenamed("new_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("dup_of").isNull, lit("admit")).otherwise(lit("reject"))
          .as("verdict"),
        col("dup_of"), col("best_agreement"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"))
  }

  /** SimHash signatures, same single-pass shape: hash each shingle once,
    * take per-bit majority votes in one codegen'd aggregation, over the
    * [[simhashBits]] bits of the md5-derived hash. */
  def simhashSignatures(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val hashed = docs.select(id.as("id"),
      explode(TextFns.word_shingles(text)).as("shingle"))
      .select(col("id"), TextFns.portable_hash60(col("shingle")).as("h"))
    val voteCols = (0 until simhashBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"v$b")
    }
    hashed.groupBy("id").agg(voteCols.head, voteCols.tail: _*)
      .select(col("id"),
        (0 until simhashBits).map { b =>
          when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
        }.reduce(_.bitwiseOR(_)).as("sig"))
  }

  /** SimHash signature width: the md5-derived hash's 60 bits. */
  val simhashBits: Int = 60

  /** SimHash near-dup pairs: docs whose signatures are within `maxHamming`
    * bits.
    *
    * Candidate blocking is the pigeonhole scheme: the signature splits
    * into `maxHamming + 1` disjoint blocks, and a pair within the Hamming
    * budget must agree on at least one whole block — so an equi-join on
    * (block-index, block-bits) finds EVERY qualifying pair (recall 1.0,
    * unlike single-prefix blocking which misses pairs differing inside
    * the prefix). Cost: blocks × n join rows instead of n². */
  def simhashPairs(docs: DataFrame, id: Column, text: Column,
                   maxHamming: Int = 8): DataFrame = {
    val blocks = maxHamming + 1
    val sigs = simhashSignatures(docs, id, text)
    val blockKeys = array((0 until blocks).map { i =>
      val start = i * simhashBits / blocks
      val width = (i + 1) * simhashBits / blocks - start
      val mask = (1L << width) - 1
      struct(lit(i).as("blk"),
        shiftright(col("sig"), start).bitwiseAND(lit(mask)).as("key"))
    }: _*)
    // sig is one long — cheap enough to ride the block join directly
    // (the re-join trick buys nothing for an 8-byte payload)
    val banded = sigs.select(col("id"), col("sig"), explode(blockKeys).as("bk"))
    banded.select(col("id").as("id_a"), col("sig").as("sig_a"), col("bk"))
      .join(banded.select(col("id").as("id_b"), col("sig").as("sig_b"), col("bk")),
        Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b")
      .distinct()
      .withColumn("hamming", TextFns.hamming64(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Exact n-gram Jaccard pairs at threshold `minJaccard`, via prefix
    * filtering (AllPairs/PPJoin): order each doc's shingles by global
    * document frequency (rarest first), keep only the first
    * ⌊(1−t)·n⌋ + 1 as the doc's "prefix", and generate candidates from a
    * self-join on prefix shingles alone. Any pair with Jaccard ≥ t must
    * share a prefix shingle (pigeonhole on the df-ordered lists), so the
    * filter is lossless — and a stop-word-grade hot shingle no longer
    * explodes into n² join rows, because a shingle that common is in
    * nobody's rarest-first prefix. Exact Jaccard is then computed only
    * for candidate pairs. */
  def ngramJaccardPairs(docs: DataFrame, id: Column, text: Column,
                        minJaccard: Double): DataFrame = {
    val shingled = docs.select(id.as("id"),
      explode(TextFns.word_shingles(text)).as("shingle")).distinct()
    val dfreq = shingled.groupBy("shingle").agg(count(lit(1)).as("df"))
    // One aggregation builds each doc's df-sorted shingle list and its
    // size — one row per doc, the compact form every later stage joins
    // against (persist this, not the exploded table: same content, ~1/20
    // the rows through the cache and the shuffles).
    val lists = shingled
      .join(dfreq, Seq("shingle"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_sh"),
        transform(
          array_sort(collect_list(struct(col("df"), col("shingle")))),
          e => e.getField("shingle")).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val prefix = lists
      .select(col("id"), col("n_sh"), explode(slice(col("sh"), lit(1),
        (floor(lit(1.0 - minJaccard) * col("n_sh")).cast("int") + 1)))
        .as("shingle"))
    // Length filter (AllPairs): J(a,b) ≥ t forces t·|b| ≤ |a| (for
    // |a| ≤ |b|, J ≤ |a|/|b|) — a lossless integer predicate evaluated
    // inside the gram join, so size-incompatible pairs never reach the
    // distinct() shuffle.
    val cand = prefix.select(col("id").as("id_a"), col("n_sh").as("n_a"),
        col("shingle"))
      .join(prefix.select(col("id").as("id_b"), col("n_sh").as("n_b"),
        col("shingle")), Seq("shingle"))
      .filter(col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")).cast("double") >=
          lit(minJaccard) * greatest(col("n_a"), col("n_b")))
      .select("id_a", "id_b")
      .distinct()
    // Exact verification joins each candidate pair to the two per-doc
    // lists (two id-equi-joins, pair-count-sized shuffles) and intersects
    // in place — NOT a re-join through the exploded shingle table, whose
    // shuffle would carry candidates × shingles-per-doc rows.
    cand
      .join(lists.select(col("id").as("id_a"), col("n_sh").as("n_a"),
        col("sh").as("sh_a")), Seq("id_a"))
      .join(lists.select(col("id").as("id_b"), col("n_sh").as("n_b"),
        col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("n_common",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "n_common", "jaccard")
  }

  /** Duplicate-cluster survivor selection — the step that actually
    * shrinks a training corpus after clustering: given (doc_id,
    * cluster_id) from [[graft.ops.ConnectedComponents]] and a per-doc
    * quality score, keep exactly ONE member per cluster — the
    * highest-scoring, smallest id on ties (deterministic). Returns every
    * doc with its verdict: (doc_id, cluster_id, keep, survivor_id,
    * cluster_size) — the keep=false rows are what the pipeline drops,
    * and survivor_id lets provenance point at the retained twin.
    *
    * Selection rides TopKPerKey (partial+final: ≤ 1 row per cluster per
    * task crosses the exchange — never a per-cluster sort); the size
    * count is one grouped aggregation; both joins key on cluster_id.
    * Singleton clusters keep their only member by construction.
    *
    * Docs with NO quality row score -∞ (left join + coalesce) instead of
    * vanishing: every input doc appears in the verdict output, and a
    * cluster whose members all lack scores still keeps its smallest id —
    * a missing upstream score must surface as a low-priority doc, not as
    * a silently dropped cluster. */
  def clusterSurvivors(clusters: DataFrame, quality: DataFrame): DataFrame = {
    val scored = clusters.join(quality, Seq("doc_id"), "left")
      .withColumn("score",
        coalesce(col("score"), lit(Double.NegativeInfinity)))
    val winners = graft.plans.GraftOps.topKPerKey(scored,
        Seq(col("cluster_id")), Seq(col("score").desc, col("doc_id")), 1)
      .select(col("cluster_id"), col("doc_id").as("survivor_id"))
    val sizes = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    clusters
      .join(winners, Seq("cluster_id"))
      .join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("survivor_id")).as("keep"),
        col("survivor_id"), col("cluster_size"))
  }

  /** Embedding-cosine near-dup pairs via hyperplane-LSH blocking; the
    * hyperplanes and the cap's per-id draw derive from md5, so the
    * oracle replays both. `dim` is the vector width the plan-time
    * hyperplane weights are built for.
    *
    * Hot-bucket bound: a degenerate embedding cluster (and a near-dup
    * corpus is exactly that) can put n docs in ONE bucket — n² pairs
    * inside it. Bucket membership is capped at `maxBucket` by a
    * deterministic per-id draw (stable, engine-reproducible), so a hot
    * bucket costs at most maxBucket² pairs and recall degrades
    * gracefully for the overflow instead of the stage dying. The cap
    * runs through TopKPerKey (partial cut before the exchange); the
    * self-join then reuses the cap's bucket partitioning.
    *
    * The truncation is OBSERVABLE, not silent: TopKPerKey's
    * `droppedRows` SQL metric (visible in the Spark UI / executedPlan
    * metrics; summed across the partial+final pair it equals docs-in −
    * docs-out) reports AT LEAST how many docs the cap excluded — when
    * the capped chain re-executes per self-join branch (no AQE
    * exchange reuse) the sum counts each execution, so treat it as a
    * per-instance-exact lower bound (the telescoping caveat M8Spec
    * asserts with `>=`). A production caller can still alarm on it for
    * recall loss and re-run the hot buckets with a higher cap. M8Spec
    * pins the metric on a planted hot bucket.
    *
    * `planes <= 0` (the default) sizes the hyperplane count from the
    * live corpus via [[choosePlanes]] — one `count()` over `vecs` —
    * so the linear-scaling config is the default and the measured
    * quadratic creep of a fixed plane count (BASELINE.md round-11:
    * 14× work for 10× data at planes=8) is opt-in, not opt-out. Pass
    * an explicit positive count only when replaying a pinned config
    * (e.g. an oracle contract). */
  def embeddingPairs(vecs: DataFrame, id: Column, vec: Column,
                     minCosine: Double = 0.95, planes: Int = 0,
                     dim: Int = 64,
                     maxBucket: Int = 4096): DataFrame = {
    val nPlanes =
      if (planes > 0) planes
      else choosePlanes(math.max(1L, vecs.count()))
    val bucketed = vecs.select(id.as("id"), vec.as("v"),
      VectorFns.hyperplane_bucket(vec, nPlanes, dim).as("bucket"))
    val capped =
      if (maxBucket == Int.MaxValue) bucketed
      else graft.plans.GraftOps.topKPerKey(
        bucketed.withColumn("_draw", md5(col("id").cast("string"))),
        Seq(col("bucket")), Seq(col("_draw"), col("id")), maxBucket)
        .drop("_draw")
    val a = capped.select(col("id").as("id_a"), col("v").as("v_a"), col("bucket"))
    val b = capped.select(col("id").as("id_b"), col("v").as("v_b"), col("bucket"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", VectorFns.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine")
  }

  /** Incremental SEMANTIC admission: screen a DELTA of embedding
    * vectors against an already-admitted CORPUS — [[minhashIncremental]]
    * re-expressed for the embedding-cosine family ([[embeddingPairs]]),
    * the screen a streaming SemDeDup loop runs per batch. Both inputs
    * are `(id, v)` vector frames; a delta doc is rejected when its
    * cosine against any corpus vector — or any EARLIER delta doc (id
    * order, the one-pass "seen beats admitted" rule) — reaches
    * `minCosine`. Candidates come from the same hyperplane-LSH bucket
    * equi-join as [[embeddingPairs]], made asymmetric: only delta rows
    * sit on the probe side, so corpus×corpus pairs are never generated,
    * and the bucket join carries (id, bucket) only — vectors join back
    * to the deduplicated candidate list and each pair is scored once.
    *
    * Returns one row per delta doc: verdict admit/reject, smallest
    * matching id (`dup_of`), best cosine, match count. `planes` is a
    * caller-owned store mode (every batch against one store must sign
    * with the same count — the bands/rowsPerBand contract of
    * [[minhashIncremental]]); size it once from the expected corpus via
    * [[choosePlanes]].
    *
    * `broadcastDelta` / `broadcastPairsUpTo`: the micro-batch policy,
    * verbatim from [[minhashIncremental]] — under the flag the delta's
    * bucket rows broadcast so the stored corpus is only SCANNED, and
    * the wide pair-side broadcast (pairs × a 64-float vector) is gated
    * on the MEASURED candidate count, falling back to shuffle joins
    * past the cap. */
  def embeddingIncremental(corpusVecs: DataFrame, deltaVecs: DataFrame,
                           planes: Int, minCosine: Double,
                           dim: Int = 64,
                           broadcastDelta: Boolean = false,
                           broadcastPairsUpTo: Long = 2000000L): DataFrame = {
    require(planes > 0, s"planes must be positive: $planes")
    def bucketed(vecs: DataFrame): DataFrame =
      vecs.select(col("id"),
        VectorFns.hyperplane_bucket(col("v"), planes, dim).as("bucket"))
    val build = bucketed(corpusVecs).withColumn("is_corpus", lit(true))
      .unionByName(bucketed(deltaVecs).withColumn("is_corpus", lit(false)))
      .select(col("id").as("cand_id"), col("bucket"), col("is_corpus"))
    val deltaBand = bucketed(deltaVecs)
      .select(col("id").as("new_id"), col("bucket"))
    val bandJoined =
      if (broadcastDelta) build.join(broadcast(deltaBand), Seq("bucket"))
      else deltaBand.join(build, Seq("bucket"))
    val cand0 = bandJoined
      .filter((col("is_corpus") && col("cand_id") =!= col("new_id")) ||
        (!col("is_corpus") && col("cand_id") < col("new_id")))
      .select("new_id", "cand_id")
      .distinct()
    val cand = if (broadcastDelta) cand0.localCheckpoint() else cand0
    val broadcastPairs = broadcastDelta && cand.count() <= broadcastPairsUpTo
    val allVecs = corpusVecs.unionByName(deltaVecs)
    val withNew = cand
      .join(deltaVecs.select(col("id").as("new_id"), col("v").as("v_n")),
        Seq("new_id"))
    val corpusSide = allVecs.select(col("id").as("cand_id"),
      col("v").as("v_c"))
    val paired =
      if (broadcastPairs) corpusSide.join(broadcast(withNew), Seq("cand_id"))
      else withNew.join(corpusSide, Seq("cand_id"))
    val hits = paired
      .withColumn("cosine", VectorFns.cosine(col("v_n"), col("v_c")))
      .filter(col("cosine") >= minCosine)
      .groupBy("new_id")
      // countDistinct for the same reason as [[minhashIncremental]]: a
      // delta id already present in the corpus puts two vector rows in
      // allVecs, and each candidate pair would otherwise score (and
      // count) twice. Distinct partners is the honest n_dups under
      // either contract; best_cosine keeps the max over both versions
      // (any version matching ⇒ reject — fail-closed), and with unique
      // ids the plans and values are identical to count(1).
      .agg(min("cand_id").as("dup_of"),
        max("cosine").as("best_cosine"),
        countDistinct("cand_id").as("n_dups"))
    deltaVecs.select(col("id").as("doc_id"))
      .join(hits.withColumnRenamed("new_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("dup_of").isNull, lit("admit")).otherwise(lit("reject"))
          .as("verdict"),
        col("dup_of"), col("best_cosine"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"))
  }

  /** Pick the hyperplane count for [[embeddingPairs]] at corpus size
    * `n`: the expected bucket population is n / 2^planes, and the pairs
    * scored inside a bucket grow with its population squared — so a
    * FIXED plane count turns the operator quadratic as the corpus
    * grows (measured: the oracle-pinned planes=8 config scales 14× for
    * 10× data, BASELINE.md round-11). `ceil(log2(n / targetBucket))`
    * keeps expected bucket population ≤ targetBucket, making total
    * scored pairs ~n × targetBucket — linear in the corpus. Clamped to
    * [4, 30]; each added plane costs one more dot product per row at
    * signing time and (like tighter LSH bands) trades recall for
    * candidate volume — validate a new config with [[pairEval]], the
    * same loop [[chooseBands]] prescribes. */
  def choosePlanes(corpusSize: Long, targetBucket: Int = 512): Int = {
    require(corpusSize > 0 && targetBucket > 0,
      s"bad config ($corpusSize, $targetBucket)")
    val needed = math.ceil(
      math.log(corpusSize.toDouble / targetBucket) / math.log(2.0)).toInt
    math.min(30, math.max(4, needed))
  }

  /** P(pair becomes an LSH candidate) for true Jaccard `s` under `b`
    * bands × `r` rows: 1 - (1 - s^r)^b — the S-curve every banding
    * choice trades on. Driver-side planning math (no data touched). */
  def candidateProbability(s: Double, bands: Int, rowsPerBand: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand), bands)

  /** Pick the banding for a signature of `numHashes` hashes whose
    * S-curve threshold (1/b)^(1/r) lands closest to `targetJaccard` —
    * the config step before [[minhashPairs]], so the 50%-candidate
    * point sits at the Jaccard level the pipeline actually cares about
    * (too few bands → recall dies; too many → candidate volume
    * explodes). Returns (bands, rowsPerBand); ties prefer more bands
    * (recall over candidate volume). Validate the choice on real data
    * with [[pairEval]]. */
  def chooseBands(numHashes: Int, targetJaccard: Double): (Int, Int) = {
    require(numHashes > 0 && targetJaccard > 0 && targetJaccard < 1,
      s"bad config ($numHashes, $targetJaccard)")
    val divisors = (1 to numHashes).filter(numHashes % _ == 0)
    val best = divisors.minBy { b =>
      val r = numHashes / b
      val threshold = math.pow(1.0 / b, 1.0 / r)
      (math.abs(threshold - targetJaccard), -b)
    }
    (best, numHashes / best)
  }

  /** Grade an approximate pair generator against ground truth — the
    * evaluation a pipeline runs before trusting a MinHash/SimHash/LSH
    * config on a real corpus (is 8 bands × 4 rows actually ≥90% recall
    * at Jaccard 0.5 on OUR data, or only on the S-curve chart?).
    *
    * Both inputs are (id_a, id_b) pair sets with the same orientation
    * (the engine's generators all emit id_a < id_b). Returns ONE row:
    * truth/candidate/hit counts plus precision/recall/F1 in basis
    * points — integer floor arithmetic, so the scorecard itself is
    * engine-exact and sits on the oracle gate. One full-outer join keyed
    * on the pair — pair-count-sized shuffles, nothing quadratic. */
  def pairEval(truth: DataFrame, candidates: DataFrame): DataFrame = {
    val t = truth.select(col(truth.columns(0)).as("id_a"),
      col(truth.columns(1)).as("id_b"), lit(1L).as("t"))
    val c = candidates.select(col(candidates.columns(0)).as("id_a"),
      col(candidates.columns(1)).as("id_b"), lit(1L).as("c"))
    t.join(c, Seq("id_a", "id_b"), "full_outer")
      .agg(
        coalesce(sum("t"), lit(0L)).as("n_truth"),
        coalesce(sum("c"), lit(0L)).as("n_candidates"),
        coalesce(sum(when(col("t").isNotNull && col("c").isNotNull, 1L)),
          lit(0L)).as("n_hits"))
      .select(col("n_truth"), col("n_candidates"), col("n_hits"),
        expr("case when n_candidates = 0 then 0L" +
          " else (10000 * n_hits) div n_candidates end").as("precision_bp"),
        expr("case when n_truth = 0 then 0L" +
          " else (10000 * n_hits) div n_truth end").as("recall_bp"))
      .withColumn("f1_bp",
        expr("case when precision_bp + recall_bp = 0 then 0L" +
          " else (2 * precision_bp * recall_bp) div (precision_bp + recall_bp) end"))
  }
}
