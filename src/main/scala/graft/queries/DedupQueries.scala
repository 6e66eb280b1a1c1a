package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.Dedup
import Dsl.{hex60Sql, shinglesCte}

/** Deduplication operator demos over `documents`/`embeddings` (north-star
  * M8 scope): exact, n-gram Jaccard, MinHash+LSH, SimHash,
  * embedding-cosine.
  *
  * Every query here carries a full DuckDB oracle. The signature families
  * hash through md5 ([[graft.functions.TextFns.portable_hash60]]), which
  * the oracle replicates digit-by-digit in SQL ([[Dsl.hex60Sql]]) — so
  * LSH banding, blocking, verification, and thresholds are all
  * hash-compared, not just rows-counted, on the same operators a
  * pipeline runs. */
object DedupQueries extends QueryModule {

  /** Exact dedup survivors: one row per distinct content hash. */
  private def exact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactSurvivors(Tables.documents(s, dir), col("doc_id"), col("text"))

  private val exactSql =
    """SELECT md5(text) AS content_key, MIN(doc_id) AS survivor_id,
      |  COUNT(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  /** Exact word-3-gram Jaccard pairs ≥ 0.5, prefix-filtered (lossless for
    * the threshold, so the brute-force oracle below must agree exactly). */
  private def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(
      Tables.spread(Tables.documents(s, dir)),
      col("doc_id"), col("text"), minJaccard = 0.5)

  private val ngramJaccardSql =
    s"""WITH $shinglesCte,
       |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
       |common AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_b, id_a, n_common,
       |  CAST(n_common AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - n_common AS DOUBLE)
       |    AS jaccard
       |FROM common
       |JOIN counts ca ON ca.doc_id = id_a
       |JOIN counts cb ON cb.doc_id = id_b
       |WHERE CAST(n_common AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - n_common AS DOUBLE)
       |      >= 0.5""".stripMargin

  /** MinHash+LSH near-dup candidates (32 hashes, 8 bands, agreement ≥ .5),
    * md5-derived hashing. `sig_agreement` = k/32 is a dyadic rational —
    * exact in doubles on both engines, no rounding needed. */
  private def minhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(Tables.spread(Tables.documents(s, dir)), col("doc_id"), col("text"),
      numHashes = 32, bands = 8, minAgreement = 0.5)

  /** The full MinHash+LSH pipeline as a reusable CTE chain, ending in
    * `agree(id_a, id_b, sig_agreement)` — shared by the pair demo, the
    * connected-components clustering oracle, and (with a sampled
    * document source) the sampled config-grading oracle. */
  private def minhashCtesFrom(src: String): String =
    s"""${Dsl.shinglesCteW(3, src)},
       |hh AS (SELECT doc_id, md5(shingle) AS hx FROM sh),
       |hv AS (
       |  SELECT doc_id,
       |    ${Dsl.hexValSql("hx", 1, 15)} AS h1,
       |    ${Dsl.hexValSql("hx", 16, 14)} AS h2
       |  FROM hh),
       |seeds AS (SELECT unnest(generate_series(0, 31)) AS seed),
       |sig AS (
       |  SELECT doc_id, seed,
       |    MIN((h1 + seed * h2) & ((1::BIGINT << 60) - 1)) AS mh
       |  FROM hv CROSS JOIN seeds GROUP BY 1, 2),
       |band AS (
       |  SELECT doc_id,
       |    (seed // 4)::VARCHAR || '|' ||
       |      string_agg(mh::VARCHAR, '|' ORDER BY seed) AS bk
       |  FROM sig GROUP BY doc_id, seed // 4),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM band a JOIN band b ON a.bk = b.bk AND a.doc_id < b.doc_id),
       |agree AS (
       |  SELECT c.id_a, c.id_b,
       |    SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 32.0 AS sig_agreement
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.id_a
       |  JOIN sig sb ON sb.doc_id = c.id_b AND sb.seed = sa.seed
       |  GROUP BY 1, 2)""".stripMargin

  private val minhashCtes = minhashCtesFrom("documents")

  /** The MinHash CTE chain for reuse by other oracles (the
    * streaming-admission gate unrolls per-batch stages over it). */
  private[queries] def minhashOracleCtes: String = minhashCtes

  private val minhashSql =
    s"""WITH $minhashCtes
       |SELECT id_a, id_b, sig_agreement FROM agree
       |WHERE sig_agreement >= 0.5""".stripMargin

  /** Incremental admission: documents with doc_id % 5 == 4 arrive as the
    * new batch and screen against the rest (the standing corpus) plus
    * earlier batch members — corpus×corpus pairs never generated, corpus
    * signatures reused as-is. Demo signs both sides in one pass; in
    * production the corpus side is read back from a signature store. */
  private def incremental(s: SparkSession, dir: String): DataFrame = {
    val sigs = Dedup.minhashSignatures(
      Tables.spread(Tables.documents(s, dir)), col("doc_id"), col("text"),
      numHashes = 32)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.minhashIncremental(
      sigs.filter(col("id") % 5 =!= 4), sigs.filter(col("id") % 5 === 4),
      bands = 8, rowsPerBand = 4, minAgreement = 0.5)
  }

  private val incrementalSql =
    s"""WITH $minhashCtes,
       |icand AS (
       |  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS cand_id
       |  FROM band n JOIN band c ON n.bk = c.bk
       |  WHERE n.doc_id % 5 = 4
       |    AND (c.doc_id % 5 <> 4 OR c.doc_id < n.doc_id)),
       |iagree AS (
       |  SELECT i.new_id, i.cand_id,
       |    SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 32.0 AS agreement
       |  FROM icand i
       |  JOIN sig sa ON sa.doc_id = i.new_id
       |  JOIN sig sb ON sb.doc_id = i.cand_id AND sb.seed = sa.seed
       |  GROUP BY 1, 2),
       |hits AS (
       |  SELECT new_id, MIN(cand_id) AS dup_of, MAX(agreement) AS best_agreement,
       |    COUNT(*) AS n_dups
       |  FROM iagree WHERE agreement >= 0.5 GROUP BY 1)
       |SELECT d.doc_id,
       |  CASE WHEN h.new_id IS NULL THEN 'admit' ELSE 'reject' END AS verdict,
       |  h.dup_of, h.best_agreement,
       |  COALESCE(h.n_dups, 0) AS n_dups
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 4) d
       |LEFT JOIN hits h ON h.new_id = d.doc_id""".stripMargin

  /** The production signature-store shape the incremental demo's doc
    * comment promises: the standing corpus signs ONCE, its signatures
    * land in a parquet table, and admission reads the STORED side back —
    * so the gate certifies the store round-trip is lossless (a corrupted
    * or re-hashed stored signature would flip a verdict). Delta docs
    * sign fresh, as they would in production. */
  private def signatureStore(s: SparkSession, dir: String): DataFrame = {
    val store = Dsl.tempDir("graft_sigstore_") + "/minhash_sigs"
    val sigs = Dedup.minhashSignatures(
      Tables.spread(Tables.documents(s, dir)), col("doc_id"), col("text"),
      numHashes = 32)
    sigs.filter(col("id") % 5 =!= 4).write.mode("overwrite").parquet(store)
    Dedup.minhashIncremental(
      s.read.parquet(store), sigs.filter(col("id") % 5 === 4),
      bands = 8, rowsPerBand = 4, minAgreement = 0.5)
  }

  /** Leakage-safe train/val/test split: assignment keyed on the near-dup
    * CLUSTER id (hash-split on the component label from
    * [[graft.ops.ConnectedComponents]]), so a document and its near
    * duplicates can never straddle train and test — the contamination
    * that silently inflates eval scores when the split is keyed per-doc.
    * Output is the single-row scorecard: corpus/cluster/split sizes plus
    * the number of near-dup pairs torn apart by the NAIVE doc-keyed
    * split (nonzero: the hazard, measured) and by the cluster-keyed one
    * (structurally zero — but computed, not asserted). Oracle replays
    * clustering (recursive closure), both md5 split assignments, and
    * both leak counts. */
  private def leakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, dir))
    val pairs = Dedup.minhashPairs(docs, col("doc_id"), col("text"),
        numHashes = 32, bands = 8, minAgreement = 0.5)
      .select(col("id_a"), col("id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cc = graft.ops.ConnectedComponents.run(pairs)
    val weights = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val assign = docs.select("doc_id")
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        graft.ops.Sampling.splitColumn(col("cluster_id"), "lsplit", weights)
          .as("split"),
        graft.ops.Sampling.splitColumn(col("doc_id"), "lsplit", weights)
          .as("naive_split"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = assign.select(col("doc_id").as("id_a"),
      col("split").as("split_a"), col("naive_split").as("naive_a"))
    val b = assign.select(col("doc_id").as("id_b"),
      col("split").as("split_b"), col("naive_split").as("naive_b"))
    val leaks = pairs.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(when(col("naive_a") =!= col("naive_b"), 1L)), lit(0L))
          .as("naive_leaks"),
        coalesce(sum(when(col("split_a") =!= col("split_b"), 1L)), lit(0L))
          .as("safe_leaks"))
    val out = assign.agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"),
        coalesce(sum(when(col("split") === "train", 1L)), lit(0L)).as("n_train"),
        coalesce(sum(when(col("split") === "val", 1L)), lit(0L)).as("n_val"),
        coalesce(sum(when(col("split") === "test", 1L)), lit(0L)).as("n_test"))
      .crossJoin(broadcast(leaks))
      // eager 1-row checkpoint so both caches can be released NOW — a
      // long-lived session (the 153-query driver run) must not carry
      // this query's pair set in the block store forever
      .localCheckpoint()
    pairs.unpersist()
    assign.unpersist()
    out
  }

  /** DuckDB replica of the 0.9/0.05/0.05 `lsplit`-salted assignment
    * ([[graft.ops.Sampling.splitColumn]]) over an arbitrary key
    * expression — shared by the split scorecard and the export
    * capstone. */
  private def splitCase(keyExpr: String): String = {
    import graft.ops.Sampling.thresholdFor
    s"""CASE WHEN ${Dsl.hex60Sql(s"'lsplit|' || CAST($keyExpr AS VARCHAR)")}
       |       < ${thresholdFor(0.9)} THEN 'train'
       |     WHEN ${Dsl.hex60Sql(s"'lsplit|' || CAST($keyExpr AS VARCHAR)")}
       |       < ${thresholdFor(0.95)} THEN 'val'
       |     ELSE 'test' END""".stripMargin
  }

  /** The recursive-closure clustering chain shared by the split
    * scorecard and export oracles: extends [[minhashCtes]] with
    * `pairs`/`e`/`reach`/`cc` (use with WITH RECURSIVE). */
  private val closureCtes =
    """pairs AS (SELECT id_a, id_b FROM agree WHERE sig_agreement >= 0.5),
      |e AS (SELECT id_a AS u, id_b AS v FROM pairs
      |      UNION ALL SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT u, v FROM e
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
      |cc AS (
      |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
      |  FROM reach GROUP BY u)""".stripMargin

  private val leakageSafeSplitSql = {
    s"""WITH RECURSIVE $minhashCtes,
       |$closureCtes,
       |assign AS (
       |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       |    ${splitCase("COALESCE(c.cluster_id, d.doc_id)")} AS split,
       |    ${splitCase("d.doc_id")} AS naive_split
       |  FROM documents d LEFT JOIN cc c USING (doc_id)),
       |leaks AS (
       |  SELECT COUNT(*) AS n_pairs,
       |    CAST(COALESCE(SUM(CASE WHEN a.naive_split <> b.naive_split
       |      THEN 1 END), 0) AS BIGINT) AS naive_leaks,
       |    CAST(COALESCE(SUM(CASE WHEN a.split <> b.split
       |      THEN 1 END), 0) AS BIGINT) AS safe_leaks
       |  FROM pairs p
       |  JOIN assign a ON a.doc_id = p.id_a
       |  JOIN assign b ON b.doc_id = p.id_b)
       |SELECT (SELECT COUNT(*) FROM assign) AS n_docs,
       |  (SELECT COUNT(DISTINCT cluster_id) FROM assign) AS n_clusters,
       |  (SELECT COUNT(*) FROM assign WHERE split = 'train') AS n_train,
       |  (SELECT COUNT(*) FROM assign WHERE split = 'val') AS n_val,
       |  (SELECT COUNT(*) FROM assign WHERE split = 'test') AS n_test,
       |  n_pairs, naive_leaks, safe_leaks
       |FROM leaks""".stripMargin
  }

  /** Training-data export capstone — the operators COMPOSED into the
    * path a real corpus ships through: near-dup clustering → leakage-
    * safe cluster-keyed split → overlapping token-window chunking →
    * per-split export manifest (docs, chunks, token volume). A chunk
    * inherits its document's split, and the split is cluster-keyed, so
    * no near-duplicate material can cross from train into eval even
    * after chunking. The oracle replays the ENTIRE composition:
    * recursive closure, md5 split assignment, and the stride-window
    * chunker, down to the per-split token sums. */
  private def trainingExport(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, dir))
    val pairs = Dedup.minhashPairs(docs, col("doc_id"), col("text"),
        numHashes = 32, bands = 8, minAgreement = 0.5)
      .select(col("id_a"), col("id_b"))
    val cc = graft.ops.ConnectedComponents.run(pairs)
    val assign = docs.select("doc_id")
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        graft.ops.Sampling.splitColumn(
          coalesce(col("label"), col("doc_id")), "lsplit",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)).as("split"))
    val chunks = graft.ops.TextCorpus.chunkDocuments(docs,
      col("doc_id"), col("text"), chunkTokens = 32, strideTokens = 24)
    chunks.join(assign, Seq("doc_id"))
      .groupBy("split")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum(col("n_tokens").cast("long")).as("sum_tokens"))
      .orderBy("split")
  }

  private val trainingExportSql =
    s"""WITH RECURSIVE $minhashCtes,
       |$closureCtes,
       |assign AS (
       |  SELECT d.doc_id,
       |    ${splitCase("COALESCE(c.cluster_id, d.doc_id)")} AS split
       |  FROM documents d LEFT JOIN cc c USING (doc_id)),
       |cd AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
       |  FROM documents WHERE trim(text) <> ''),
       |cs AS (
       |  SELECT doc_id, len(t) AS n,
       |    unnest(generate_series(0, len(t) - 1, 24)) AS off
       |  FROM cd),
       |chunks AS (SELECT doc_id, LEAST(32, n - off) AS n_tokens FROM cs)
       |SELECT a.split, COUNT(DISTINCT ch.doc_id) AS n_docs,
       |  COUNT(*) AS n_chunks,
       |  CAST(SUM(ch.n_tokens) AS BIGINT) AS sum_tokens
       |FROM chunks ch JOIN assign a USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** MinHash-vs-ground-truth scorecard ([[Dedup.pairEval]]): exact
    * word-3-gram Jaccard ≥ 0.5 pairs (PPJoin, lossless) as truth,
    * 32-hash / 8-band signature-agreement pairs as the approximation —
    * the measurement that justifies (or rejects) an LSH config on this
    * corpus. Counts and basis-point scores are integer floor math, so
    * the whole scorecard is hash-compared; the oracle recomputes BOTH
    * pair generators from raw text. */
  private def dedupEval(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.spread(Tables.documents(s, dir))
    val truth = Dedup.ngramJaccardPairs(d, col("doc_id"), col("text"),
      minJaccard = 0.5).select("id_a", "id_b")
    val cand = Dedup.minhashPairs(d, col("doc_id"), col("text"),
      numHashes = 32, bands = 8, minAgreement = 0.5)
      .select("id_a", "id_b")
    Dedup.pairEval(truth, cand)
  }

  /** Exact-Jaccard ground-truth CTEs (`counts`/`common`/`truth`) —
    * shared by every pairEval oracle so all approximate families grade
    * against literally the same SQL. Requires `sh` from
    * [[Dsl.shinglesCte]] upstream. */
  private val jaccardTruthCtes =
    """counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |common AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |truth AS (
      |  SELECT id_a, id_b FROM common
      |  JOIN counts ca ON ca.doc_id = id_a
      |  JOIN counts cb ON cb.doc_id = id_b
      |  WHERE CAST(n_common AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - n_common AS DOUBLE)
      |        >= 0.5)""".stripMargin

  /** The confusion-count + basis-point scorecard tail ([[Dedup.pairEval]]
    * replica) over CTEs `truth` and `approx` — shared verbatim by every
    * eval oracle. */
  private val scorecardSql =
    """stats AS (
      |  SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
      |         (SELECT COUNT(*) FROM approx) AS n_candidates,
      |         (SELECT COUNT(*) FROM truth t JOIN approx a
      |            ON t.id_a = a.id_a AND t.id_b = a.id_b) AS n_hits),
      |bp AS (
      |  SELECT n_truth, n_candidates, n_hits,
      |    CASE WHEN n_candidates = 0 THEN 0
      |         ELSE (10000 * n_hits) // n_candidates END AS precision_bp,
      |    CASE WHEN n_truth = 0 THEN 0
      |         ELSE (10000 * n_hits) // n_truth END AS recall_bp
      |  FROM stats)
      |SELECT n_truth, n_candidates, n_hits, precision_bp, recall_bp,
      |  CASE WHEN precision_bp + recall_bp = 0 THEN 0
      |       ELSE (2 * precision_bp * recall_bp) // (precision_bp + recall_bp)
      |       END AS f1_bp
      |FROM bp""".stripMargin

  private val dedupEvalSql =
    s"""WITH $minhashCtes,
       |$jaccardTruthCtes,
       |approx AS (SELECT id_a, id_b FROM agree WHERE sig_agreement >= 0.5),
       |$scorecardSql""".stripMargin

  /** SAMPLED config grading — the scale path for the scorecard above.
    * The exact-Jaccard truth build is pair-volume-bound (measured 56×
    * at the 100× image), so at corpus scale a config is graded on a
    * hash-stratified DOCUMENT sample: a deterministic salted-md5
    * Bernoulli draw ([[graft.ops.Sampling.hashSample]] — stable,
    * map-side, engine-portable), with BOTH truth and candidate pair
    * generators restricted to the sampled docs. Pair inclusion
    * probability is fraction², so the ratio scores
    * (precision/recall/F1) estimate the full-corpus ones — M8Spec pins
    * the sampled-vs-full tolerance — while truth cost drops by the
    * same fraction² factor that made the full build unaffordable. The
    * oracle replays the sample PREDICATE itself in SQL and the sampled
    * doc count rides in the hashed row, so a selection disagreement
    * fails the gate, not just a score drift. */
  private[queries] val EvalSampleFraction = 0.5
  private[queries] val EvalSampleSalt = "evs"
  private def dedupEvalSampled(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.spread(Tables.documents(s, dir))
    val sampled = graft.ops.Sampling.hashSample(d, col("doc_id"),
        EvalSampleFraction, EvalSampleSalt)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val truth = Dedup.ngramJaccardPairs(sampled, col("doc_id"), col("text"),
      minJaccard = 0.5).select("id_a", "id_b")
    val cand = Dedup.minhashPairs(sampled, col("doc_id"), col("text"),
      numHashes = 32, bands = 8, minAgreement = 0.5)
      .select("id_a", "id_b")
    Dedup.pairEval(truth, cand)
      .crossJoin(sampled.agg(count(lit(1)).as("n_docs_sampled")))
  }

  private val dedupEvalSampledSql = {
    val pred = s"${hex60Sql(s"'$EvalSampleSalt|' || doc_id::VARCHAR")}" +
      s" < ${graft.ops.Sampling.thresholdFor(EvalSampleFraction)}"
    s"""WITH sdocs AS (SELECT * FROM documents WHERE $pred),
       |${minhashCtesFrom("sdocs")},
       |$jaccardTruthCtes,
       |approx AS (SELECT id_a, id_b FROM agree WHERE sig_agreement >= 0.5),
       |stats AS (
       |  SELECT (SELECT COUNT(*) FROM sdocs) AS n_docs_sampled,
       |         (SELECT COUNT(*) FROM truth) AS n_truth,
       |         (SELECT COUNT(*) FROM approx) AS n_candidates,
       |         (SELECT COUNT(*) FROM truth t JOIN approx a
       |            ON t.id_a = a.id_a AND t.id_b = a.id_b) AS n_hits),
       |bp AS (
       |  SELECT n_docs_sampled, n_truth, n_candidates, n_hits,
       |    CASE WHEN n_candidates = 0 THEN 0
       |         ELSE (10000 * n_hits) // n_candidates END AS precision_bp,
       |    CASE WHEN n_truth = 0 THEN 0
       |         ELSE (10000 * n_hits) // n_truth END AS recall_bp
       |  FROM stats)
       |SELECT n_docs_sampled, n_truth, n_candidates, n_hits,
       |  precision_bp, recall_bp,
       |  CASE WHEN precision_bp + recall_bp = 0 THEN 0
       |       ELSE (2 * precision_bp * recall_bp) // (precision_bp + recall_bp)
       |       END AS f1_bp
       |FROM bp""".stripMargin
  }

  /** [[Dedup.chooseBands]] ON THE GATE: derive the banding for a
    * 32-hash signature whose S-curve threshold lands closest to a
    * target Jaccard of 0.35 (recall-leaning — the pipeline wants
    * candidates well below the 0.5 verification threshold), run
    * [[Dedup.minhashPairs]] under the DERIVED banding, and grade it
    * with [[Dedup.pairEval]] against the same exact-Jaccard ≥ 0.5
    * ground truth the pinned 8×4 config grades against — two scorecard
    * rows, so the tuner's effect is a measured comparison, not
    * folklore. The oracle replays the derivation itself (divisors of
    * 32 → threshold (1/b)^(1/r) → argmin distance, ties prefer more
    * bands) and emits the derived (bands, rows_per_band) in the hashed
    * row — a derivation disagreement fails the gate, not just a recall
    * delta. Target 0.35 derives 16 bands × 2 rows: recall over
    * candidate volume, exactly the S-curve trade [[Dedup.chooseBands]]
    * documents. */
  private val TunedTarget = 0.35
  private def minhashTuned(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.spread(Tables.documents(s, dir))
    val (tb, _) = Dedup.chooseBands(32, targetJaccard = TunedTarget)
    val truth = Dedup.ngramJaccardPairs(d, col("doc_id"), col("text"),
        minJaccard = 0.5).select("id_a", "id_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def grade(config: String, bands: Int): DataFrame =
      Dedup.pairEval(truth,
          Dedup.minhashPairs(d, col("doc_id"), col("text"), numHashes = 32,
            bands = bands, minAgreement = 0.5)
            .select("id_a", "id_b"))
        .select(lit(config).as("config"), lit(bands).as("bands"),
          lit(32 / bands).as("rows_per_band"), col("n_truth"),
          col("n_candidates"), col("n_hits"), col("precision_bp"),
          col("recall_bp"), col("f1_bp"))
    grade("tuned", tb).unionByName(grade("pinned", 8))
  }

  private lazy val minhashTunedSql = {
    // The tuned band width is interpolated from the SAME derivation the
    // engine ran (chooseBands), while the dv CTE re-derives it in SQL
    // and emits it into the hashed row — the two must agree or the gate
    // fails on the bands/rows columns.
    val (tb, tr) = Dedup.chooseBands(32, targetJaccard = TunedTarget)
    require(tb * tr == 32)
    s"""WITH $minhashCtes,
       |$jaccardTruthCtes,
       |dv AS (
       |  SELECT CAST(b AS INT) AS bands, CAST(32 // b AS INT) AS rows_per_band
       |  FROM (SELECT unnest(generate_series(1, 32)) AS b)
       |  WHERE 32 % b = 0
       |  ORDER BY abs(pow(1.0 / b, b / 32.0) - $TunedTarget) ASC, b DESC
       |  LIMIT 1),
       |band_t AS (
       |  SELECT doc_id,
       |    (seed // $tr)::VARCHAR || '|' ||
       |      string_agg(mh::VARCHAR, '|' ORDER BY seed) AS bk
       |  FROM sig GROUP BY doc_id, seed // $tr),
       |cand_t AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM band_t a JOIN band_t b ON a.bk = b.bk AND a.doc_id < b.doc_id),
       |agree_t AS (
       |  SELECT c.id_a, c.id_b,
       |    SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 32.0 AS sig_agreement
       |  FROM cand_t c
       |  JOIN sig sa ON sa.doc_id = c.id_a
       |  JOIN sig sb ON sb.doc_id = c.id_b AND sb.seed = sa.seed
       |  GROUP BY 1, 2),
       |approx_p AS (SELECT id_a, id_b FROM agree WHERE sig_agreement >= 0.5),
       |approx_t AS (SELECT id_a, id_b FROM agree_t WHERE sig_agreement >= 0.5),
       |stats AS (
       |  SELECT 'tuned' AS config, dv.bands, dv.rows_per_band,
       |    (SELECT COUNT(*) FROM truth) AS n_truth,
       |    (SELECT COUNT(*) FROM approx_t) AS n_candidates,
       |    (SELECT COUNT(*) FROM truth t JOIN approx_t a
       |       ON t.id_a = a.id_a AND t.id_b = a.id_b) AS n_hits
       |  FROM dv
       |  UNION ALL
       |  SELECT 'pinned', 8, 4,
       |    (SELECT COUNT(*) FROM truth),
       |    (SELECT COUNT(*) FROM approx_p),
       |    (SELECT COUNT(*) FROM truth t JOIN approx_p a
       |       ON t.id_a = a.id_a AND t.id_b = a.id_b)),
       |bp AS (
       |  SELECT config, bands, rows_per_band, n_truth, n_candidates, n_hits,
       |    CASE WHEN n_candidates = 0 THEN 0
       |         ELSE (10000 * n_hits) // n_candidates END AS precision_bp,
       |    CASE WHEN n_truth = 0 THEN 0
       |         ELSE (10000 * n_hits) // n_truth END AS recall_bp
       |  FROM stats)
       |SELECT config, bands, rows_per_band, n_truth, n_candidates, n_hits,
       |  precision_bp, recall_bp,
       |  CASE WHEN precision_bp + recall_bp = 0 THEN 0
       |       ELSE (2 * precision_bp * recall_bp) // (precision_bp + recall_bp)
       |       END AS f1_bp
       |FROM bp""".stripMargin
  }

  /** The same scorecard for the SimHash family — [[Dedup.pairEval]] is
    * generator-agnostic, so every approximate family grades against the
    * SAME exact-Jaccard ground truth and configs become comparable
    * numbers (MinHash 8×4 vs SimHash ≤8-hamming on THIS corpus), not
    * folklore. */
  private def dedupEvalSimhash(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.spread(Tables.documents(s, dir))
    val truth = Dedup.ngramJaccardPairs(d, col("doc_id"), col("text"),
      minJaccard = 0.5).select("id_a", "id_b")
    val cand = Dedup.simhashPairs(d, col("doc_id"), col("text"),
      maxHamming = 8).select("id_a", "id_b")
    Dedup.pairEval(truth, cand)
  }

  private lazy val dedupEvalSimhashSql =
    s"""WITH $simhashCtes,
       |$jaccardTruthCtes,
       |approx AS (SELECT id_a, id_b FROM scand
       |           WHERE bit_count(xor(sig_a, sig_b)) <= 8),
       |$scorecardSql""".stripMargin

  /** Triangle count over the verified near-dup pair graph — the
    * structure metric that separates pairwise-similar noise from true
    * duplicate cliques. Edges are (id_a < id_b) ordered, so each
    * triangle {u<v<w} materializes exactly once via the two-hop
    * equi-join (u,v)⋈(v,w)⋈(u,w): three shuffles on vertex keys, no
    * orientation dedup pass needed. */
  private def triangles(s: SparkSession, dir: String): DataFrame = {
    val e = Dedup.minhashPairs(Tables.spread(Tables.documents(s, dir)),
        col("doc_id"), col("text"),
        numHashes = 32, bands = 8, minAgreement = 0.5)
      .select(col("id_a").as("u"), col("id_b").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uvw = e
      .join(e.select(col("u").as("v"), col("v").as("w")), Seq("v"))
      .join(e.select(col("u"), col("v").as("w")), Seq("u", "w"))
    uvw.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .select("n_edges", "n_triangles")
  }

  private val trianglesSql =
    s"""WITH $minhashCtes,
       |p AS (SELECT id_a, id_b FROM agree WHERE sig_agreement >= 0.5)
       |SELECT (SELECT COUNT(*) FROM p) AS n_edges,
       |  (SELECT COUNT(*)
       |   FROM p a JOIN p b ON b.id_a = a.id_b
       |   JOIN p c ON c.id_a = a.id_a AND c.id_b = b.id_b) AS n_triangles""".stripMargin

  /** Near-dup clusters: connected components over the verified MinHash
    * pair graph; every document gets a cluster id (its component's min
    * doc_id, or itself when unpaired). */
  private def clusters(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, dir))
    val pairs = Dedup.minhashPairs(docs, col("doc_id"), col("text"),
        numHashes = 32, bands = 8, minAgreement = 0.5)
      .select(col("id_a"), col("id_b"))
    val cc = graft.ops.ConnectedComponents.run(pairs)
    docs.select("doc_id")
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
  }

  /** Oracle twin: transitive closure of the same pair graph via a
    * recursive CTE, then min reachable id per vertex. */
  private val clustersSql =
    s"""WITH RECURSIVE $minhashCtes,
       |pairs AS (SELECT id_a, id_b FROM agree WHERE sig_agreement >= 0.5),
       |e AS (SELECT id_a AS u, id_b AS v FROM pairs
       |      UNION ALL SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT u, v FROM e
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
       |cc AS (
       |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
       |  FROM reach GROUP BY u)
       |SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
       |FROM documents d LEFT JOIN cc c USING (doc_id)""".stripMargin

  /** INCREMENTAL clustering — the admission lifecycle's missing tail:
    * the standing corpus (doc_id % 5 ≠ 4) is clustered once; the delta
    * batch's pairs (any pair touching a % 5 = 4 doc) then fold into the
    * stored labeling via [[graft.ops.ConnectedComponents.incremental]]
    * (star-encode the old labels ∪ new edges — (labels + delta)-sized,
    * never historical-edge-sized, and stars converge in ~2 rounds). The
    * result must be IDENTICAL to clustering everything from scratch, so
    * the oracle is the full recursive-CTE closure over ALL pairs —
    * byte-for-byte the `m8_dedup_clusters` oracle, blind to the
    * incremental path. A delta edge bridging two standing clusters is
    * the hard case this certifies (merged components relabel to the
    * global min). */
  private def clustersIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, dir))
    val pairs = Dedup.minhashPairs(docs, col("doc_id"), col("text"),
        numHashes = 32, bands = 8, minAgreement = 0.5)
      .select(col("id_a"), col("id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def isDelta(c: org.apache.spark.sql.Column) = c % 5 === 4
    val oldPairs = pairs.filter(!isDelta(col("id_a")) && !isDelta(col("id_b")))
    val newPairs = pairs.filter(isDelta(col("id_a")) || isDelta(col("id_b")))
    val corpusDocs = docs.filter(!isDelta(col("doc_id"))).select("doc_id")
    val cc0 = graft.ops.ConnectedComponents.run(oldPairs)
    val labels0 = corpusDocs
      .join(cc0.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
    // The delta batch's own docs enter through newPairs when paired;
    // unpaired delta docs must still appear (as singletons) — feed them
    // into the universe via a zero-information self-labeling.
    val deltaSingles = docs.filter(isDelta(col("doc_id")))
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    graft.ops.ConnectedComponents.incremental(
      labels0.unionByName(deltaSingles), newPairs)
  }

  /** Survivor selection over the same near-dup clusters: keep the
    * longest member (token count as the quality proxy; smallest id on
    * ties) of each cluster, flag the rest as drops with provenance
    * pointing at the retained twin. */
  private def survivors(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, dir))
    val pairs = Dedup.minhashPairs(docs, col("doc_id"), col("text"),
        numHashes = 32, bands = 8, minAgreement = 0.5)
      .select(col("id_a"), col("id_b"))
    val cc = graft.ops.ConnectedComponents.run(pairs)
    val clusters = docs.select("doc_id")
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
    val quality = docs.select(col("doc_id"),
      graft.functions.TextFns.token_count(col("text")).cast("long").as("score"))
    Dedup.clusterSurvivors(clusters, quality)
  }

  private val survivorsSql =
    s"""WITH RECURSIVE $minhashCtes,
       |pairs AS (SELECT id_a, id_b FROM agree WHERE sig_agreement >= 0.5),
       |e AS (SELECT id_a AS u, id_b AS v FROM pairs
       |      UNION ALL SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT u, v FROM e
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
       |cc AS (
       |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
       |  FROM reach GROUP BY u),
       |cl AS (
       |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN cc c USING (doc_id)),
       |q AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN trim(text) = '' THEN 0
       |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
       |      AS score
       |  FROM documents),
       |win AS (
       |  SELECT cluster_id, doc_id AS survivor_id FROM (
       |    SELECT cluster_id, doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY cluster_id
       |                         ORDER BY score DESC, doc_id) AS rn
       |    FROM cl JOIN q USING (doc_id)) WHERE rn = 1),
       |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cl GROUP BY 1)
       |SELECT cl.doc_id, cl.cluster_id,
       |  cl.doc_id = w.survivor_id AS keep, w.survivor_id, sz.cluster_size
       |FROM cl JOIN win w USING (cluster_id) JOIN sz USING (cluster_id)""".stripMargin

  /** SimHash near-dup candidates within 8 Hamming bits, md5-derived
    * 60-bit hashing with recall-complete pigeonhole blocking (9 blocks). */
  private def simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.spread(Tables.documents(s, dir)), col("doc_id"), col("text"),
      maxHamming = 8)

  /** The SimHash chain as a reusable CTE block ending in
    * `scand(id_a, id_b, sig_a, sig_b)` — shared by the pair demo and
    * the eval-harness oracle so the two can never drift. */
  private val simhashCtes =
    s"""$shinglesCte,
       |h AS (SELECT doc_id, ${hex60Sql("shingle")} AS h FROM sh),
       |bits AS (SELECT unnest(generate_series(0, 59)) AS b),
       |votes AS (
       |  SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM h CROSS JOIN bits GROUP BY 1, 2),
       |ssig AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
       |      AS sig
       |  FROM votes GROUP BY 1),
       |blocks AS (SELECT unnest(generate_series(0, 8)) AS i),
       |banded AS (
       |  SELECT doc_id, sig, i,
       |    (sig >> (i * 60 // 9)) &
       |      ((1::BIGINT << ((i + 1) * 60 // 9 - i * 60 // 9)) - 1) AS key
       |  FROM ssig CROSS JOIN blocks),
       |scand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.sig AS sig_a, b.sig AS sig_b
       |  FROM banded a JOIN banded b
       |    ON a.i = b.i AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin

  private val simhashSql =
    s"""WITH $simhashCtes
       |SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
       |FROM scand WHERE bit_count(xor(sig_a, sig_b)) <= 8""".stripMargin

  /** Embedding-cosine near-dups via hyperplane-LSH blocking —
    * the SIZED config: the hyperplane count comes from the live corpus
    * via [[Dedup.choosePlanes]] (the `planes <= 0` default of
    * [[Dedup.embeddingPairs]]) instead of a pinned constant, so expected
    * bucket population stays ≤ targetBucket and scored pairs stay
    * ~n × targetBucket (linear) as the corpus grows. Since round 13 this
    * IS the gate's flagship embedding query (the formerly-gated pinned
    * planes=8 shape was quadratic by contract — n²/256 pair growth — and
    * now lives only as an M8Spec case), so no gated query models a
    * config you wouldn't ship at 100 TB. The oracle replays the
    * DERIVATION, not a frozen constant: count(*) →
    * clamp(ceil(log₂(n/512)), 4, 30) → the first `planes` hyperplane
    * bits — so the gate proves the sizing rule itself, and the emitted
    * `planes` column pins it per scale (sf0.01 → 4, sf0.1 → 6, the 10×
    * image → 9).
    *
    * The hot-bucket cap is explicitly DISABLED here: the oracle
    * enumerates every same-bucket pair, so a default cap would silently
    * diverge the moment a bucket exceeds it — the capped scale path is
    * covered by unit specs instead. */
  private def embedding(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.spread(Tables.embeddings(s, dir))
    val planes = Dedup.choosePlanes(math.max(1L, emb.count()))
    Dedup.embeddingPairs(emb, col("vec_id"), col("embedding"),
        minCosine = 0.4, dim = 64,
        maxBucket = Int.MaxValue) // planes omitted: the sized default
      .select(lit(planes).as("planes"), col("id_a"), col("id_b"),
        round(col("cosine"), 4).as("cosine"))
  }

  /** Oracle body for the sized embedding pairs, parameterized by the
    * plane-count CTE (`p(planes)`): the main gate derives planes from
    * the oracle-visible `embeddings` table; [[graft.ScaleGate]] pins a
    * literal computed from the FULL image's corpus size, because its
    * oracle replica holds only the planted stratum whose count would
    * derive a different (wrong) plane count. */
  private[graft] def embeddingSqlFrom(planesCte: String): String =
    s"""WITH $planesCte,
       |e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |b AS (SELECT vec_id, v, planes, ${OracleVectors.sizedBucketSql(64)} AS bucket
       |      FROM e CROSS JOIN p),
       |cand AS (
       |  SELECT a.planes, a.vec_id AS id_a, b2.vec_id AS id_b,
       |    a.v AS v_a, b2.v AS v_b
       |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
       |scored AS (
       |  SELECT planes, id_a, id_b,
       |    list_inner_product(v_a, v_b) /
       |      (sqrt(list_inner_product(v_a, v_a)) *
       |       sqrt(list_inner_product(v_b, v_b))) AS cosine
       |  FROM cand)
       |SELECT CAST(planes AS INT) AS planes, id_a, id_b,
       |  round(cosine, 4) AS cosine FROM scored
       |WHERE cosine >= 0.4""".stripMargin

  /** `p` CTE deriving the plane count from the corpus the oracle sees —
    * the SQL replica of [[Dedup.choosePlanes]]. */
  private[graft] val sizedPlanesCte: String =
    """p AS (
      |  SELECT LEAST(30, GREATEST(4,
      |    CAST(ceil(log2(count(*) / 512.0)) AS INT))) AS planes
      |  FROM embeddings)""".stripMargin

  /** `p` CTE pinning a plane count computed OUTSIDE the oracle's
    * corpus (ScaleGate: from the full image). */
  private[graft] def pinnedPlanesCte(planes: Int): String =
    s"p AS (SELECT $planes AS planes)"

  private val embeddingSql = embeddingSqlFrom(sizedPlanesCte)

  /** SemDeDup-style SEMANTIC dedup end-to-end: embedding near-dup pairs
    * (hyperplane LSH + cosine ≥ 0.4, corpus-SIZED plane count —
    * the linear-scaling config, same round-13 re-pin as
    * `m8_dedup_embedding`) → connected components → exactly one survivor
    * per semantic cluster. The quality proxy is a deterministic integer
    * draw (vec_id mod 97), so survivor choice never rides a float
    * ordering across engines; the oracle replays the plane-count
    * derivation, LSH bucketing, the pair threshold, the recursive-CTE
    * closure, and the arg-max. This is the composition a training corpus
    * runs when "the same content, re-phrased" must collapse, not just
    * byte twins. */
  private def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.spread(Tables.embeddings(s, dir))
    val pairs = Dedup.embeddingPairs(emb, col("vec_id"), col("embedding"),
        minCosine = 0.4, dim = 64,
        maxBucket = Int.MaxValue) // planes omitted: the sized default
      .select(col("id_a"), col("id_b"))
    val cc = graft.ops.ConnectedComponents.run(pairs)
    val clusters = emb.select(col("vec_id").as("doc_id"))
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
    val quality = emb.select(col("vec_id").as("doc_id"),
      (col("vec_id") % 97).as("score"))
    Dedup.clusterSurvivors(clusters, quality)
  }

  private[graft] def semanticDedupSqlFrom(planesCte: String): String =
    s"""WITH RECURSIVE $planesCte,
       |e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |b AS (SELECT vec_id, v, ${OracleVectors.sizedBucketSql(64)} AS bucket
       |      FROM e CROSS JOIN p),
       |cand AS (
       |  SELECT a.vec_id AS id_a, b2.vec_id AS id_b, a.v AS v_a, b2.v AS v_b
       |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
       |pairs AS (
       |  SELECT id_a, id_b FROM cand
       |  WHERE list_inner_product(v_a, v_b) /
       |      (sqrt(list_inner_product(v_a, v_a)) *
       |       sqrt(list_inner_product(v_b, v_b))) >= 0.4),
       |ed AS (SELECT id_a AS u, id_b AS v FROM pairs
       |       UNION ALL SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT u, v FROM ed
       |  UNION
       |  SELECT r.u, ed.v FROM reach r JOIN ed ON r.v = ed.u),
       |cc AS (
       |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
       |  FROM reach GROUP BY u),
       |cl AS (
       |  SELECT e.vec_id AS doc_id, COALESCE(c.cluster_id, e.vec_id) AS cluster_id
       |  FROM e LEFT JOIN cc c ON c.doc_id = e.vec_id),
       |q AS (SELECT vec_id AS doc_id, vec_id % 97 AS score FROM embeddings),
       |win AS (
       |  SELECT cluster_id, doc_id AS survivor_id FROM (
       |    SELECT cluster_id, doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY cluster_id
       |                         ORDER BY score DESC, doc_id) AS rn
       |    FROM cl JOIN q USING (doc_id)) WHERE rn = 1),
       |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cl GROUP BY 1)
       |SELECT cl.doc_id, cl.cluster_id,
       |  cl.doc_id = w.survivor_id AS keep, w.survivor_id, sz.cluster_size
       |FROM cl JOIN win w USING (cluster_id) JOIN sz USING (cluster_id)""".stripMargin

  private val semanticDedupSql = semanticDedupSqlFrom(sizedPlanesCte)

  /** Dedup by canonical URL (the reference's own dedup key, F12+A1):
    * tracking-param variants of the same posting collapse to one survivor. */
  private def canonicalUrlDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.UrlFns
    val k = col("o_orderkey")
    Tables.orders(s, dir)
      .withColumn("url",
        concat(lit("https://jobs.example.com/post/"), k % 500,
          lit("?utm_source=src"), k % 3, lit("&ref=page&utm_campaign=c"), k % 2))
      .withColumn("canonical", UrlFns.canonical_url(col("url")))
      .groupBy("canonical")
      .agg(min(k).as("survivor_key"), count(lit(1)).as("n_variants"))
      .filter(col("n_variants") > 1)
  }

  private val canonicalUrlDedupSql =
    """SELECT 'https://jobs.example.com/post/' || (o_orderkey % 500) || '?ref=page'
      |    AS canonical,
      |  MIN(o_orderkey) AS survivor_key, COUNT(*) AS n_variants
      |FROM orders GROUP BY 1 HAVING COUNT(*) > 1""".stripMargin

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m8_dedup_canonical_url" -> canonicalUrlDedup _,
    "m8_dedup_exact"         -> exact _,
    "m8_dedup_ngram_jaccard" -> ngramJaccard _,
    "m8_dedup_minhash"       -> minhash _,
    "m8_dedup_simhash"       -> simhash _,
    "m8_dedup_embedding"     -> embedding _,
    "m8_dedup_incremental"   -> incremental _,
    "m8_signature_store"     -> signatureStore _,
    "m8_semantic_dedup"      -> semanticDedup _,
    "m8_dedup_eval"          -> dedupEval _,
    "m8_dedup_eval_sampled"  -> dedupEvalSampled _,
    "m8_dedup_eval_simhash"  -> dedupEvalSimhash _,
    "m8_dedup_minhash_tuned" -> minhashTuned _,
    "m8_leakage_safe_split"  -> leakageSafeSplit _,
    "m8_training_export"     -> trainingExport _,
    "m8_graph_triangles"     -> triangles _,
    "m8_dedup_clusters"      -> clusters _,
    "m8_dedup_clusters_incremental" -> clustersIncremental _,
    "m8_dedup_survivors"     -> survivors _)

  def oracles: Map[String, String] = Map(
    "m8_dedup_canonical_url" -> canonicalUrlDedupSql,
    "m8_dedup_exact"         -> exactSql,
    "m8_dedup_ngram_jaccard" -> ngramJaccardSql,
    "m8_dedup_minhash"       -> minhashSql,
    "m8_dedup_simhash"       -> simhashSql,
    "m8_dedup_embedding"     -> embeddingSql,
    "m8_dedup_incremental"   -> incrementalSql,
    "m8_signature_store"     -> incrementalSql,
    "m8_semantic_dedup"      -> semanticDedupSql,
    "m8_dedup_eval"          -> dedupEvalSql,
    "m8_dedup_eval_sampled"  -> dedupEvalSampledSql,
    "m8_dedup_eval_simhash"  -> dedupEvalSimhashSql,
    "m8_dedup_minhash_tuned" -> minhashTunedSql,
    "m8_leakage_safe_split"  -> leakageSafeSplitSql,
    "m8_training_export"     -> trainingExportSql,
    "m8_graph_triangles"     -> trianglesSql,
    "m8_dedup_clusters"      -> clustersSql,
    "m8_dedup_clusters_incremental" -> clustersSql,
    "m8_dedup_survivors"     -> survivorsSql)
}

/** Oracle-side rendering of the hyperplane weights: the same
  * md5-derived ±1 values [[graft.functions.VectorFns.portableWeight]]
  * uses, interpolated as literal arrays so DuckDB's `list_inner_product`
  * reproduces the projection with identical left-to-right accumulation.
  * (The weights are data-independent algorithm constants, like the
  * threshold; the hash→weight derivation itself is covered by the
  * minhash/simhash oracles, which recompute md5 fully in SQL.) */
private[queries] object OracleVectors {
  def weightsSql(p: Int, dim: Int): String =
    (0 until dim).map { i =>
      if (graft.functions.VectorFns.portableWeight(p, i) > 0) "1.0" else "-1.0"
    }.mkString("[", ", ", "]")

  def bucketSql(planes: Int, dim: Int): String =
    (0 until planes).map { p =>
      s"(CASE WHEN list_inner_product(v, ${weightsSql(p, dim)}) > 0" +
        s" THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Bucket expression for a RUNTIME plane count (column `planes` from
    * the `p` CTE in scope): enough self-disabling bit terms for any
    * corpus the gates will see (16 planes covers 512 × 2^16 ≈ 33.5 M
    * vectors); each term drops out beyond the derived count. */
  def sizedBucketSql(dim: Int, maxPlanes: Int = 16): String =
    (0 until maxPlanes).map { p =>
      s"(CASE WHEN $p < planes AND list_inner_product(v, " +
        s"${weightsSql(p, dim)}) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", "\n      + ", ")")
}
