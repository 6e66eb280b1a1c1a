package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.{DedupStream, LateData, ViewMaintenance}
import graft.ops.IncrementalAgg.Measure

/** Oracle gates for the streaming state machines that previously only had
  * specs: [[LateData.splitLate]], [[ViewMaintenance.maintain]] and
  * [[DedupStream.admitDocuments]] (SURVEY.md §2.10 / north-star M8).
  *
  * Pattern (same as `t1_drain_loop`): derive a DETERMINISTIC batch
  * sequence from the driver tables (`key % 3` slices written as one file
  * per batch, modification times spaced so the file source's oldest-first
  * order is fixed), drain the REAL streaming component under
  * `Trigger.AvailableNow` with `maxFilesPerTrigger=1`, then read its
  * durable sinks back. The oracle replays the whole batch sequence in
  * SQL — the late/main split against the advancing high-water mark, the
  * monoid state fold, and the three-stage incremental MinHash admission
  * (unrolled: each stage screens against prior stages' ADMITTED docs plus
  * earlier same-batch docs, exactly the `minhashIncremental` contract). */
object StreamGateQueries extends QueryModule {

  /** Stage each wave frame as one parquet file CONCURRENTLY (guide
    * §2.6 — the k writes are independent jobs; run sequentially each
    * pays its own full planning + single-task-write latency while 31
    * cores idle), then move+stamp the files into the watch dir in wave
    * order. Result is identical to the sequential loop: ordering comes
    * from the stamped mtimes, not from write completion order. */
  private def stageWaves(waves: Seq[DataFrame]): String = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val watch = Dsl.tempDir("graft_stream_watch_")
    val base = System.currentTimeMillis() - 3600L * 1000
    val staged = waves.map { df =>
      Future {
        val stage = Dsl.tempDir("graft_stream_stage_")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        stage
      }
    }
    staged.zipWithIndex.foreach { case (f, i) =>
      val stage = Await.result(f, Duration.Inf)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(watch, s"b$i.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(base + i * 2000L)
    }
    watch
  }

  /** Write `df` as `k` single-file batches (slice i = rows with
    * `splitCol % k == i`) into a fresh watch dir, modification times
    * 2 s apart so the file stream processes them oldest-first in slice
    * order. Returns the watch dir. */
  private def writeOrderedBatches(df: DataFrame, splitCol: String,
                                  k: Int): String =
    stageWaves((0 until k).map(i => df.filter(col(splitCol) % k === i)))

  /** Seed the standing ANN index the maintenance gates extend: the
    * quantizer trained on `standing` at `root/centroids`, and its lists
    * as the manual base `root/lists/graft_batch=-1`. */
  private def seedStandingIndex(standing: DataFrame, root: String): Unit = {
    val (cent, lists) = graft.similarity.Similarity.ivfBuildQuantized(
      Tables.spread(standing), nlist = 16, lloydIters = 2)
    cent.write.mode("overwrite").parquet(root + "/centroids")
    lists.write.mode("overwrite").parquet(root + "/lists/graft_batch=-1")
  }

  /** The gates' ordered file source: the parquet files in `watch` as a
    * stream of `schema` rows, one file per micro-batch, oldest first
    * (the order [[stageWaves]] stamps). */
  private def fileStream(s: SparkSession, schema: String,
                         watch: String): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(watch)

  /** T11: late-data accounting. Three event batches stream through
    * [[LateData.splitLate]] (delay 3600 s); each batch's rows land in the
    * main or late sink versus the high-water mark advanced by PRIOR
    * batches. Output: per (batch, sink) counts, id sums and total
    * observed lateness, read back from the durable sinks. */
  private def t11LateSplit(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select("event_id", "ts", "user_id")
    val watch = writeOrderedBatches(ev, "event_id", 3)
    val root = Dsl.tempDir("graft_t11_")
    val (mainDir, lateDir) = (s"$root/main", s"$root/late")
    val stream = fileStream(s, "event_id BIGINT, ts TIMESTAMP, user_id BIGINT",
      watch)
    LateData.splitLate(stream, "ts", delaySeconds = 3600L,
      mainDir, lateDir, s"$root/state", s"$root/ckpt")
      .awaitTermination()
    val main = s.read.parquet(mainDir)
      .withColumn("sink", lit("main"))
      .withColumn("late_by_sec", lit(null).cast("long"))
    val late = s.read.parquet(lateDir).withColumn("sink", lit("late"))
    main.unionByName(late)
      .groupBy(col("graft_batch").cast("long").as("batch"), col("sink"))
      .agg(count(lit(1)).as("n"), sum("event_id").as("sum_id"),
        sum("late_by_sec").as("sum_late"))
  }

  private val t11Sql =
    """WITH b AS (
      |  SELECT event_id, event_id % 3 AS batch,
      |    epoch_us(ts) // 1000000 AS tsec
      |  FROM events),
      |bm AS (SELECT batch, MAX(tsec) AS mx FROM b GROUP BY 1),
      |marks AS (
      |  SELECT batch, MAX(mx) OVER (ORDER BY batch
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mark
      |  FROM bm),
      |cls AS (
      |  SELECT x.event_id, x.batch,
      |    CASE WHEN m.mark IS NOT NULL AND x.tsec < m.mark - 3600
      |         THEN 'late' ELSE 'main' END AS sink,
      |    CASE WHEN m.mark IS NOT NULL AND x.tsec < m.mark - 3600
      |         THEN (m.mark - 3600) - x.tsec END AS late_by
      |  FROM b x JOIN marks m USING (batch))
      |SELECT batch, sink, COUNT(*) AS n,
      |  CAST(SUM(event_id) AS BIGINT) AS sum_id,
      |  CAST(SUM(late_by) AS BIGINT) AS sum_late
      |FROM cls GROUP BY 1, 2""".stripMargin

  /** T12: streaming materialized-view maintenance. Three event batches
    * fold through [[ViewMaintenance.maintain]] (per-batch partial state
    * merged into the versioned snapshot store); the published view must
    * equal the flat aggregate over everything — the monoid-fold gate. */
  private def t12ViewMaintain(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select("event_id", "user_id", "event_type")
    val watch = writeOrderedBatches(ev, "event_id", 3)
    val root = Dsl.tempDir("graft_t12_")
    val stream = fileStream(s,
      "event_id BIGINT, user_id BIGINT, event_type STRING", watch)
    ViewMaintenance.maintain(stream, s"$root/state", s"$root/ckpt",
      keys = Seq("event_type"),
      measures = Seq(
        Measure("n", "count", lit(1)),
        Measure("sum_uid", "sum", col("user_id")),
        Measure("min_id", "min", col("event_id")),
        Measure("max_id", "max", col("event_id"))))
      .awaitTermination()
    ViewMaintenance.readLatest(s, s"$root/state").get
      .select("event_type", "n", "sum_uid", "min_id", "max_id")
  }

  private val t12Sql =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(user_id) AS BIGINT) AS sum_uid,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM events GROUP BY 1""".stripMargin

  /** M8: streaming corpus admission. Three document batches stream
    * through [[DedupStream.admitDocuments]] (portable MinHash, 8×4
    * bands): each batch screens against the signature store that prior
    * batches' ADMITTED docs extended, plus earlier docs of its own batch.
    * Output: every verdict row from the durable sink. */
  private def streamAdmission(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val watch = writeOrderedBatches(docs, "doc_id", 3)
    val root = Dsl.tempDir("graft_m8adm_")
    val stream = fileStream(s, "doc_id LONG, text STRING", watch)
    DedupStream.admitDocuments(stream, s"$root/store", s"$root/verdicts",
      s"$root/ckpt", bands = 8, rowsPerBand = 4, minAgreement = 0.5,
      portable = true)
      .awaitTermination()
    s.read.parquet(s"$root/verdicts")
      .select("doc_id", "verdict", "dup_of", "best_agreement", "n_dups",
        "batch_id")
  }

  /** One admission stage of the oracle: candidates for batch `i` docs are
    * earlier same-batch docs (any verdict — they're all in the delta) or
    * `admitted` prior-batch docs; agreement over the 32 portable MinHash
    * slots; hits at ≥ 0.5 reduce to (dup_of = min, best, count). `mod`
    * is the batch-slicing modulus (3 for the admission gate, 4 for the
    * compaction gate's extra post-compaction wave). */
  private def stageSql(i: Int, admitted: String, mod: Int = 3): String =
    s"""c$i AS (
       |  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS cand_id
       |  FROM band n JOIN band c ON n.bk = c.bk
       |  WHERE n.doc_id % $mod = $i AND (
       |        (c.doc_id % $mod = $i AND c.doc_id < n.doc_id)
       |        $admitted)),
       |a$i AS (
       |  SELECT i.new_id, i.cand_id,
       |    SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 32.0 AS agreement
       |  FROM c$i i
       |  JOIN sig sa ON sa.doc_id = i.new_id
       |  JOIN sig sb ON sb.doc_id = i.cand_id AND sb.seed = sa.seed
       |  GROUP BY 1, 2),
       |h$i AS (
       |  SELECT new_id, MIN(cand_id) AS dup_of, MAX(agreement) AS best_agreement,
       |    COUNT(*) AS n_dups
       |  FROM a$i WHERE agreement >= 0.5 GROUP BY 1),
       |adm$i AS (
       |  SELECT doc_id FROM documents
       |  WHERE doc_id % $mod = $i AND doc_id NOT IN (SELECT new_id FROM h$i)),
       |v$i AS (
       |  SELECT d.doc_id,
       |    CASE WHEN h.new_id IS NULL THEN 'admit' ELSE 'reject' END AS verdict,
       |    h.dup_of, h.best_agreement,
       |    CAST(COALESCE(h.n_dups, 0) AS BIGINT) AS n_dups,
       |    CAST($i AS BIGINT) AS batch_id
       |  FROM (SELECT doc_id FROM documents WHERE doc_id % $mod = $i) d
       |  LEFT JOIN h$i h ON h.new_id = d.doc_id)""".stripMargin

  /** The minhash CTE chain is DedupQueries' portable replica (md5 hex
    * digits → h1/h2 → 32 affine min-hashes → 8 band keys); shared via
    * [[DedupQueries.minhashOracleCtes]]. */
  private val streamAdmissionSql =
    s"""WITH ${DedupQueries.minhashOracleCtes},
       |${stageSql(0, "")},
       |${stageSql(1, "OR c.doc_id IN (SELECT doc_id FROM adm0)")},
       |${stageSql(2,
            "OR c.doc_id IN (SELECT doc_id FROM adm0 UNION ALL SELECT doc_id FROM adm1)")}
       |SELECT * FROM v0 UNION ALL SELECT * FROM v1 UNION ALL
       |SELECT * FROM v2""".stripMargin

  /** M8: signature-store COMPACTION in the admission lifecycle — the
    * piece that keeps a long-lived streaming store readable at
    * production batch counts. Three document batches (doc_id % 4 ∈
    * {0,1,2}) stream through [[DedupStream.admitDocuments]] leaving
    * three `graft_batch=` dirs; [[graft.streaming.BatchStore.compact]]
    * (keepBatches=1) folds batches 0-1 into base generation 2 and
    * garbage-collects them (the query REQUIRES the fold happened and
    * that exactly base + 1 kept dir remain — a no-op compaction fails
    * the gate, not just the layout); then a FOURTH wave (doc_id % 4 =
    * 3) screens batch-mode against the COMPACTED store read. Output:
    * all four waves' verdicts. Any signature lost or duplicated by the
    * fold would flip a wave-4 verdict, dup_of, or n_dups — the oracle
    * replays all four admission stages from raw text and knows nothing
    * about the fold, so agreement proves the compacted read equals the
    * never-compacted corpus. */
  private def storeCompaction(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    import graft.streaming.BatchStore
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val streamed = docs.filter(col("doc_id") % 4 =!= 3)
      .withColumn("slice", col("doc_id") % 4)
    val watch = writeOrderedBatches(streamed, "slice", 3)
    val root = Dsl.tempDir("graft_m8cmp_")
    val stream = fileStream(s, "doc_id LONG, text STRING", watch)
    DedupStream.admitDocuments(stream, s"$root/store", s"$root/verdicts",
      s"$root/ckpt", bands = 8, rowsPerBand = 4, minAgreement = 0.5,
      portable = true)
      .awaitTermination()
    val report = BatchStore.compact(s, s"$root/store", keepBatches = 1)
    require(report.gen == 2L && report.foldedThrough == 1L &&
      report.foldedBatches == Seq(0L, 1L),
      s"compaction did not fold batches 0-1 into gen 2: $report")
    val live = new java.io.File(s"$root/store").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("graft_batch="))
    require(live == 2, s"expected base + 1 kept batch dir, found $live dirs")
    val delta = Dedup.minhashSignatures(docs.filter(col("doc_id") % 4 === 3),
      col("doc_id"), col("text"), numHashes = 32, portable = true)
    val wave4 = Dedup.minhashIncremental(
        BatchStore.read(s, s"$root/store").select("id", "sig"), delta,
        bands = 8, rowsPerBand = 4, minAgreement = 0.5, portable = true)
      .withColumn("batch_id", lit(3L))
    s.read.parquet(s"$root/verdicts")
      .select("doc_id", "verdict", "dup_of", "best_agreement", "n_dups",
        "batch_id")
      .unionByName(wave4.select("doc_id", "verdict", "dup_of",
        "best_agreement", "n_dups", "batch_id"))
  }

  private val storeCompactionSql =
    s"""WITH ${DedupQueries.minhashOracleCtes},
       |${stageSql(0, "", 4)},
       |${stageSql(1, "OR c.doc_id IN (SELECT doc_id FROM adm0)", 4)},
       |${stageSql(2,
            "OR c.doc_id IN (SELECT doc_id FROM adm0 UNION ALL SELECT doc_id FROM adm1)",
            4)},
       |${stageSql(3,
            "OR c.doc_id IN (SELECT doc_id FROM adm0 UNION ALL SELECT doc_id FROM adm1 UNION ALL SELECT doc_id FROM adm2)",
            4)}
       |SELECT * FROM v0 UNION ALL SELECT * FROM v1 UNION ALL
       |SELECT * FROM v2 UNION ALL SELECT * FROM v3""".stripMargin

  /** M8: the streaming duplicate-group LEDGER — admission's queryable
    * provenance ("where did my rejected document go?"). The same three
    * admission batches as `m8_stream_admission`, now with `labelsDir`
    * set: each batch folds its verdict edges (rejected doc → dup_of)
    * into the maintained (doc_id, cluster_id) labeling via the
    * star-encoded incremental fold, published through the versioned-
    * pointer snapshot protocol. The oracle replays the unrolled
    * three-stage admission and runs the recursive closure over ALL
    * stages' verdict edges at once — blind to the per-batch fold, so
    * agreement proves fold-equals-recluster across the whole run. */
  private def streamClusters(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.ViewMaintenance
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val watch = writeOrderedBatches(docs, "doc_id", 3)
    val root = Dsl.tempDir("graft_m8slbl_")
    val stream = fileStream(s, "doc_id LONG, text STRING", watch)
    DedupStream.admitDocuments(stream, s"$root/store", s"$root/verdicts",
      s"$root/ckpt", bands = 8, rowsPerBand = 4, minAgreement = 0.5,
      portable = true, labelsDir = Some(s"$root/labels"))
      .awaitTermination()
    // delta-published ledger: the latest-wins read IS the snapshot
    graft.streaming.DeltaLedger.read(s, s"$root/labels")
      .select("doc_id", "cluster_id")
  }

  private val streamClustersSql =
    s"""WITH RECURSIVE ${DedupQueries.minhashOracleCtes},
       |${stageSql(0, "")},
       |${stageSql(1, "OR c.doc_id IN (SELECT doc_id FROM adm0)")},
       |${stageSql(2,
            "OR c.doc_id IN (SELECT doc_id FROM adm0 UNION ALL SELECT doc_id FROM adm1)")},
       |ed0 AS (
       |  SELECT new_id AS u, dup_of AS v FROM h0
       |  UNION ALL SELECT new_id, dup_of FROM h1
       |  UNION ALL SELECT new_id, dup_of FROM h2),
       |e AS (SELECT u, v FROM ed0 UNION ALL SELECT v, u FROM ed0),
       |reach AS (
       |  SELECT u, v FROM e
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
       |ccl AS (
       |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
       |  FROM reach GROUP BY u)
       |SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
       |FROM documents d LEFT JOIN ccl c USING (doc_id)""".stripMargin

  /** M8: streaming weighted-sample maintenance. Three document batches
    * stream through [[graft.streaming.SampleStream.maintainSample]]
    * (k=50, weight = n_chars); the maintained state after the drain
    * must equal [[graft.ops.Sampling.weightedSample]] over the WHOLE
    * corpus — the mergeability identity of priority sampling (the k
    * smallest priorities of everything seen equal the k smallest of
    * previous-winners ∪ new-batch), which is what makes per-batch work
    * (k + batch)-sized instead of history-sized. The oracle knows
    * nothing about batching: it ranks the full corpus by
    * coord/weight. */
  private def streamSample(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{SampleStream, ViewMaintenance}
    val docs = Tables.documents(s, dir).select("doc_id", "n_chars")
    val watch = writeOrderedBatches(docs, "doc_id", 3)
    val root = Dsl.tempDir("graft_m8ssam_")
    val stream = fileStream(s, "doc_id LONG, n_chars LONG", watch)
    SampleStream.maintainSample(stream, s"$root/state", s"$root/ckpt",
        k = 50, salt = "ssam", idCol = "doc_id", weightCol = "n_chars")
      .awaitTermination()
    // the state schema carries weight as double (the exact cast
    // Sampling.weightedSample applies, so fractional weights survive the
    // fold); n_chars is integral, so the output cast back is lossless
    ViewMaintenance.readLatest(s, s"$root/state").get
      .select(col("sample_id").as("doc_id"),
        col("weight").cast("long").as("weight"))
  }

  private val streamSampleSql =
    s"""SELECT doc_id, CAST(n_chars AS BIGINT) AS weight FROM (
       |  SELECT doc_id, n_chars,
       |    ROW_NUMBER() OVER (ORDER BY
       |      CAST(${Dsl.hex60Sql("'ssam|' || doc_id::VARCHAR")} AS DOUBLE)
       |        / CAST(n_chars AS DOUBLE) ASC,
       |      doc_id) AS rn
       |  FROM documents) WHERE rn <= 50""".stripMargin

  /** T13: incremental ANN-index maintenance. The standing corpus
    * (vec_id % 5 ≠ 4) trains the quantizer and writes the stored index;
    * the delta (vec_id % 5 = 4) arrives as three ordered micro-batches
    * through [[IndexStream.maintainIndex]], each encoded against the
    * FIXED stored centroids and appended per-batch. Serving from the
    * end-state store must equal a batch build whose quantizer trained
    * on the standing corpus — assignment is per-vector against fixed
    * centroids, so the oracle replays exactly that. */
  private def t13IndexMaintain(s: SparkSession, dir: String): DataFrame = {
    import graft.similarity.Similarity
    import graft.streaming.IndexStream
    val emb = Tables.embeddings(s, dir)
    val standing = emb.filter(col("vec_id") % 5 =!= 4)
    val delta = emb.filter(col("vec_id") % 5 === 4)
      .select("vec_id", "embedding")
    val root = Dsl.tempDir("graft_t13_")
    seedStandingIndex(standing, root)
    val watch = writeOrderedBatches(delta, "vec_id", 3)
    val stream = fileStream(s, "vec_id BIGINT, embedding ARRAY<FLOAT>", watch)
    IndexStream.maintainIndex(stream, root + "/centroids", root + "/lists",
        Dsl.tempDir("graft_t13_ckpt_"))
      .awaitTermination()
    // The lists store is read through BatchStore: the manual -1 base and
    // every live batch dir — and after a BatchStore.compact, the folded
    // generation — resolve through the same pointer-filtered read.
    Similarity.ivfServeQuantized(emb.filter(col("vec_id") < 8),
      s.read.parquet(root + "/centroids"),
      graft.streaming.IndexStream.readLists(s, root + "/lists"),
      emb, 5, nprobe = 4, rescoreK = 15)
      .select(col("query_id"), col("rank"), col("cand_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  private val t13Sql = SimilarityQueries.ivfQServeSql(Some("vec_id % 5 <> 4"))

  /** T14: incremental BM25 postings maintenance. The full documents
    * table streams through [[PostingsStream.maintainPostings]] in three
    * waves, the store is compacted down to one kept batch (the fold
    * re-sums the df partials), and the index is served with the
    * `m8_bm25_search` query recipe. The oracle is the BATCH build's SQL
    * replay over the same corpus, untouched: end-state identity — a
    * store that grew batch-by-batch and lived through a fold serves the
    * exact ranking of a from-scratch index — is the whole contract. */
  private def t14PostingsMaintain(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.PostingsStream
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val watch = writeOrderedBatches(docs, "doc_id", 3)
    val stream = fileStream(s, "doc_id BIGINT, text STRING", watch)
    val root = Dsl.tempDir("graft_t14_")
    PostingsStream.maintainPostings(stream, root + "/index", root + "/ckpt")
      .awaitTermination()
    PostingsStream.compactIndex(s, root + "/index", keepBatches = 1)
    val queries = Tables.documents(s, dir)
      .filter(col("doc_id") % 251 === 7)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(coalesce(col("text"), lit(""))),
          "\\s+"), 1, 4), " ").as("query_text"))
    PostingsStream.bm25Serve(s, root + "/index", queries, k = 10)
  }

  private val t14Sql =
    TextQueries.bm25SqlFrom(TextQueries.bm25SearchQueryCte)

  /** T15: the POSITIONAL postings store. Same drain/fold shape as T14
    * but maintained with `positions = true`, then phrase-served with
    * the `m8_phrase_search` recipe — the oracle is that query's batch
    * SQL replay untouched, certifying that per-occurrence positions
    * survive batching, replay semantics, and the df-merging fold. */
  private def t15PhraseMaintain(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.PostingsStream
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val watch = writeOrderedBatches(docs, "doc_id", 3)
    val stream = fileStream(s, "doc_id BIGINT, text STRING", watch)
    val root = Dsl.tempDir("graft_t15_")
    PostingsStream.maintainPostings(stream, root + "/index", root + "/ckpt",
      positions = true).awaitTermination()
    PostingsStream.compactIndex(s, root + "/index", keepBatches = 1)
    val queries = Tables.documents(s, dir)
      .filter(col("doc_id") % 251 === 7)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(coalesce(col("text"), lit(""))),
          "\\s+"), 2, 3), " ").as("query_text"))
    PostingsStream.phraseServe(s, root + "/index", queries, k = 10)
  }

  private val t15Sql = TextQueries.phraseSqlFrom("doc_id % 251 = 7")

  /** T16 — the hybrid-retrieval capstone: BOTH incrementally maintained
    * index stores (T13's quantized ANN lists, T14's BM25 postings) are
    * drained, then served for the same 8 query ids and fused with
    * reciprocal-rank fusion — the production RAG serving loop end to
    * end, with every number coming off a store that grew batch-by-batch.
    * The oracle replays both legs from scratch in SQL (the bm25 CTE
    * chain + the full quantized-IVF serve as a subquery) and fuses with
    * the same integer floor-division arithmetic — so store maintenance,
    * both serve paths, and the fusion certify in one hash compare. */
  private def t16HybridServe(s: SparkSession, dir: String): DataFrame = {
    import graft.similarity.Similarity
    import graft.streaming.{BatchStore, IndexStream, PostingsStream}
    val k = 5
    val root = Dsl.tempDir("graft_t16_")
    // The two legs build DISJOINT stores from disjoint sources, so
    // their drains run CONCURRENTLY (guide §2.6 — each drain is ~40%
    // driver-gap at micro-batch pacing, which the other leg's tasks
    // back-fill): start the sparse drain first, build + drain the
    // dense leg while it runs, await both before the serves.
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val dstream = fileStream(s, "doc_id BIGINT, text STRING",
      writeOrderedBatches(docs, "doc_id", 3))
    val sparseDrain = PostingsStream.maintainPostings(dstream,
      root + "/postings", Dsl.tempDir("graft_t16_pckpt_"))
    // dense leg: the T13 store shape — batch-built quantized lists plus
    // three streamed refresh waves against the FIXED stored quantizer
    val emb = Tables.embeddings(s, dir)
    val standing = emb.filter(col("vec_id") % 5 =!= 4)
    val delta = emb.filter(col("vec_id") % 5 === 4)
      .select("vec_id", "embedding")
    seedStandingIndex(standing, root)
    val vstream = fileStream(s, "vec_id BIGINT, embedding ARRAY<FLOAT>",
      writeOrderedBatches(delta, "vec_id", 3))
    IndexStream.maintainIndex(vstream, root + "/centroids", root + "/lists",
      Dsl.tempDir("graft_t16_ickpt_")).awaitTermination()
    sparseDrain.awaitTermination()
    val dense = Similarity.ivfServeQuantized(emb.filter(col("vec_id") < 8),
      s.read.parquet(root + "/centroids"),
      IndexStream.readLists(s, root + "/lists"),
      emb, k, nprobe = 4, rescoreK = 15)
      .select("query_id", "cand_id", "rank")
    val queries = Tables.documents(s, dir)
      .filter(col("doc_id") < 8)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(coalesce(col("text"), lit(""))),
          "\\s+"), 1, 4), " ").as("query_text"))
    val sparse = PostingsStream.bm25Serve(s, root + "/postings", queries, k)
      .withColumnRenamed("doc_id", "cand_id")
    Similarity.rrfFuse(Seq(sparse, dense), k)
  }

  private val t16Sql = {
    val sparseQueryCte =
      """SELECT doc_id AS query_id,
        |    array_to_string(list_slice(
        |      string_split_regex(trim(text), '\s+'), 1, 4), ' ') AS query_text
        |  FROM documents WHERE doc_id < 8""".stripMargin
    s"""WITH ${TextQueries.bm25OracleCtes(sparseQueryCte)},
       |hivf AS ($t13Sql),
       |hterms AS (
       |  SELECT query_id, cand_id,
       |    1000000000 // (60 + CAST(rank AS BIGINT)) AS term_fp
       |  FROM (SELECT query_id, doc_id AS cand_id, rank FROM bmranked
       |          WHERE rank <= 5
       |        UNION ALL
       |        SELECT query_id, cand_id, rank FROM hivf)),
       |hfused AS (
       |  SELECT query_id, cand_id, CAST(SUM(term_fp) AS BIGINT) AS rrf_fp
       |  FROM hterms GROUP BY 1, 2),
       |hranked AS (
       |  SELECT query_id, cand_id, rrf_fp,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY rrf_fp DESC, cand_id) AS rank
       |  FROM hfused)
       |SELECT query_id, CAST(rank AS INT) AS rank, cand_id,
       |  CAST(rrf_fp AS DOUBLE) / 1000000000.0 AS rrf
       |FROM hranked WHERE rank <= 5""".stripMargin
  }

  /** T17 — DELETION through the postings store, the takedown/opt-out
    * path every training-data pipeline must honor: the full documents
    * table streams into a POSITIONAL postings store in three waves,
    * then every 7th doc is tombstoned ([[PostingsStream.deleteDocs]]).
    * Three serve legs follow — BM25 top-k BEFORE compaction (deleted
    * docs masked by the tombstone anti-join, their df/dl/n_docs
    * contributions cancelled by the visible-tf negative partials), BM25
    * AFTER [[PostingsStream.compactIndex]] (rows physically dropped
    * from the folded base, df rebuilt from surviving tf; the kept batch
    * dir still relies on the mask), and phrase search after compaction
    * (tp rows anti-joined/dropped). The query REQUIRES the fold
    * physically removed the deleted docs' rows from the new base.
    *
    * The oracle replays all three legs from `documents WHERE doc_id % 7
    * <> 3` — a from-scratch index over the surviving corpus, blind to
    * tombstones, folds, and masking — so pre- and post-compaction legs
    * must BOTH equal the survivors-only build: the full
    * deletion-exactness contract in one hash compare. */
  private def t17StoreDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{BatchStore, PostingsStream}
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val watch = writeOrderedBatches(docs, "doc_id", 3)
    val stream = fileStream(s, "doc_id BIGINT, text STRING", watch)
    val root = Dsl.tempDir("graft_t17_")
    PostingsStream.maintainPostings(stream, root + "/index", root + "/ckpt",
      positions = true).awaitTermination()
    PostingsStream.deleteDocs(s, root + "/index",
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"))
    def firstTokens(from: Int, len: Int) = Tables.documents(s, dir)
      .filter(col("doc_id") % 251 === 7)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(coalesce(col("text"), lit(""))),
          "\\s+"), from, len), " ").as("query_text"))
    def leg(name: String, df: DataFrame, score: Column) =
      df.select(lit(name).as("leg"), col("query_id"), col("rank"),
        col("doc_id"), score.cast("double").as("score"))
    // materialize the pre-compaction serve NOW — it reads store state
    // the compaction below rewrites, and lazy evaluation would
    // otherwise time-travel it to the post-fold layout
    val pre = leg("bm25_pre",
      PostingsStream.bm25Serve(s, root + "/index", firstTokens(1, 4), 10),
      col("score")).localCheckpoint(true)
    PostingsStream.compactIndex(s, root + "/index", keepBatches = 1)
    // the fold must have PHYSICALLY removed the deleted docs' rows from
    // the new base generation (gen 2 = graft_batch=-2): a store that
    // only ever masks never shrinks, which is the gap this gate closes
    val leaked = s.read.parquet(s"$root/index/graft_batch=-2")
      .filter(col("doc_id") % 7 === 3).count()
    require(leaked == 0,
      s"compacted base still holds $leaked rows of deleted docs")
    require(BatchStore.hasDeletes(s, root + "/index"),
      "tombstone set must survive compaction (the standing takedown ledger)")
    val post = leg("bm25_post",
      PostingsStream.bm25Serve(s, root + "/index", firstTokens(1, 4), 10),
      col("score"))
    val phrase = leg("phrase_post",
      PostingsStream.phraseServe(s, root + "/index", firstTokens(2, 3), 10),
      col("n_occ"))
    pre.unionByName(post).unionByName(phrase)
  }

  private val t17Sql = {
    val survivors = "(SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3)"
    val bm = TextQueries.bm25SqlFrom(TextQueries.bm25SearchQueryCte,
      docsFrom = survivors)
    val ph = TextQueries.phraseSqlFrom("doc_id % 251 = 7",
      docsFrom = survivors)
    s"""SELECT 'bm25_pre' AS leg, query_id, rank, doc_id, score FROM ($bm)
       |UNION ALL
       |SELECT 'bm25_post' AS leg, query_id, rank, doc_id, score FROM ($bm)
       |UNION ALL
       |SELECT 'phrase_post' AS leg, query_id, rank, doc_id,
       |  CAST(n_occ AS DOUBLE) AS score FROM ($ph)""".stripMargin
  }

  /** T18 — deletion through the ANN lists store: the T13 store shape
    * (batch-built quantized lists + three streamed refresh waves
    * against the fixed quantizer), then every 9th vector is tombstoned
    * ([[IndexStream.deleteVectors]]) and the index is served BEFORE
    * compaction (tombstone mask: [[IndexStream.readLists]]) and AFTER
    * [[IndexStream.compactLists]] (physical drop, required). The
    * quantizer keeps its pre-takedown training — deleting rows must not
    * silently re-key the lists — so the oracle trains on the full
    * standing corpus and excludes the deleted vectors only from the
    * served lists; both legs must equal that replay. */
  private def t18IndexDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.similarity.Similarity
    import graft.streaming.IndexStream
    val emb = Tables.embeddings(s, dir)
    val standing = emb.filter(col("vec_id") % 5 =!= 4)
    val delta = emb.filter(col("vec_id") % 5 === 4)
      .select("vec_id", "embedding")
    val root = Dsl.tempDir("graft_t18_")
    seedStandingIndex(standing, root)
    val stream = fileStream(s, "vec_id BIGINT, embedding ARRAY<FLOAT>",
      writeOrderedBatches(delta, "vec_id", 3))
    IndexStream.maintainIndex(stream, root + "/centroids", root + "/lists",
      Dsl.tempDir("graft_t18_ckpt_")).awaitTermination()
    IndexStream.deleteVectors(s, root + "/lists",
      emb.filter(col("vec_id") % 9 === 2).select("vec_id"))
    def serve(leg: String) = Similarity.ivfServeQuantized(
        emb.filter(col("vec_id") < 8),
        s.read.parquet(root + "/centroids"),
        IndexStream.readLists(s, root + "/lists"),
        emb, 5, nprobe = 4, rescoreK = 15)
      .select(lit(leg).as("leg"), col("query_id"), col("rank"),
        col("cand_id"), round(col("cosine"), 6).as("cosine"))
    val pre = serve("pre").localCheckpoint(true)
    IndexStream.compactLists(s, root + "/lists", keepBatches = 1)
    val leaked = s.read.parquet(s"$root/lists/graft_batch=-2")
      .filter(col("cand_id") % 9 === 2).count()
    require(leaked == 0,
      s"compacted lists base still holds $leaked deleted vectors")
    pre.unionByName(serve("post"))
  }

  private val t18Sql = {
    val one = SimilarityQueries.ivfQServeSql(Some("vec_id % 5 <> 4"),
      Some("vec_id % 9 <> 2"))
    s"""SELECT 'pre' AS leg, query_id, rank, cand_id, cosine FROM ($one)
       |UNION ALL
       |SELECT 'post' AS leg, query_id, rank, cand_id, cosine FROM ($one)""".stripMargin
  }

  /** The planted-drift corpus for T19: standing vectors (vec_id % 5 ≠ 4)
    * keep their raw embeddings; the delta (vec_id % 5 = 4) is DRIFTED —
    * spiked ±2.0 along dimension 1 by `(vec_id div 5) % 2`, forming two
    * off-manifold clusters that keep their full original structure (so
    * the int8 codes still rank members — a pure spike would collapse
    * every code to ±127·e1 and no quantizer could help). The STALE
    * quantizer (trained on standing only) scatters each cluster across
    * lists by the residual term, so nprobe = 2 misses most true
    * neighbors; a retrained quantizer plants centroids in the clusters
    * and concentrates them. The drift arithmetic rounds through float32
    * (the storage dtype) so the oracle replays it bit-exactly. */
  private def plantedDrift(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val sign = when(expr("vec_id DIV 5") % 2 === 0, lit(2.0))
      .otherwise(lit(-2.0))
    val drifted = emb.filter(col("vec_id") % 5 === 4)
      .select(col("vec_id"),
        concat(
          array((element_at(col("embedding"), 1).cast("double")
            + sign).cast("float")),
          expr("slice(embedding, 2, size(embedding) - 1)"))
          .as("embedding"))
    emb.filter(col("vec_id") % 5 =!= 4).unionByName(drifted)
  }

  private val plantedDriftSql =
    """
      |  SELECT vec_id, v FROM (
      |    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |    FROM embeddings) WHERE vec_id % 5 <> 4
      |  UNION ALL
      |  SELECT vec_id,
      |    list_concat(
      |      [CAST(CAST(v[1] +
      |         CASE WHEN (vec_id // 5) % 2 = 0 THEN 2.0 ELSE -2.0 END
      |         AS FLOAT) AS DOUBLE)],
      |      list_slice(v, 2, len(v))) AS v
      |  FROM (
      |    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |    FROM embeddings) WHERE vec_id % 5 = 4""".stripMargin

  /** T19 — the quantizer REFRESH lifecycle ([[AnnIndex]]): version 1
    * trains on the standing corpus; a DRIFTED delta (see
    * [[plantedDrift]]) streams in through [[AnnIndex.maintain]], encoded
    * against the now-misfitting stale quantizer; recall@5 of the stale
    * serve is measured against brute-force truth for 16 drifted
    * queries; then [[AnnIndex.refresh]] retrains on the drained live
    * corpus, re-encodes every vector, and atomically swaps — and the
    * refreshed serve's recall is measured the same way. The query
    * REQUIRES refreshed total recall ≥ stale (the drift recourse must
    * actually help) and emits both legs' per-query evals; the oracle
    * replays the planted corpus, both trainings, both serves, the truth
    * and the recalls from scratch — so retrain + re-encode + swap
    * equals a from-scratch rebuild, certified in one hash compare. */
  private def t19QuantizerRefresh(s: SparkSession, dir: String): DataFrame = {
    import graft.similarity.Similarity
    import graft.streaming.AnnIndex
    val k = 5
    val corpus = Tables.spread(plantedDrift(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val root = Dsl.tempDir("graft_t19_")
    AnnIndex.init(s, root, corpus.filter(col("vec_id") % 5 =!= 4),
      nlist = 16, lloydIters = 2)
    val delta = corpus.filter(col("vec_id") % 5 === 4)
    val stream = fileStream(s, "vec_id BIGINT, embedding ARRAY<FLOAT>",
      writeOrderedBatches(delta, "vec_id", 3))
    AnnIndex.maintain(stream, root, Dsl.tempDir("graft_t19_ckpt_"))
      .awaitTermination()
    val queries = corpus.filter(col("vec_id") % 5 === 4 && col("vec_id") < 80)
    val truth = Similarity.bruteForceTopK(queries, corpus, k)
      .localCheckpoint(true)
    def eval(leg: String, run: DataFrame) =
      Similarity.recallAtK(run, truth)
        .select(lit(leg).as("leg"), col("query_id"), col("n_exact"),
          col("n_approx"), col("n_hits"), col("recall"))
    // materialize the stale eval NOW — refresh() swaps the store state
    // this plan reads, and lazy evaluation would time-travel it
    val stale = eval("stale",
      AnnIndex.serve(s, root, queries, corpus, k, nprobe = 2))
      .localCheckpoint(true)
    AnnIndex.refresh(s, root, corpus, nlist = 16, lloydIters = 2)
    val refreshed = eval("refreshed",
      AnnIndex.serve(s, root, queries, corpus, k, nprobe = 2))
      .localCheckpoint(true)
    val hit = (df: DataFrame) =>
      df.agg(sum("n_hits")).collect()(0).getLong(0)
    val (sHits, rHits) = (hit(stale), hit(refreshed))
    require(rHits >= sHits,
      s"refresh must recover drift recall: stale $sHits hits vs " +
        s"refreshed $rHits")
    corpus.unpersist()
    stale.unionByName(refreshed)
  }

  private val t19Sql = {
    val qp = "q.vec_id % 5 = 4 AND q.vec_id < 80"
    val stale = SimilarityQueries.ivfQServeSql(Some("vec_id % 5 <> 4"),
      None, plantedDriftSql, qp, nprobe = 2)
    val fresh = SimilarityQueries.ivfQServeSql(None,
      None, plantedDriftSql, qp, nprobe = 2)
    val truth = SimilarityQueries.bruteTopkSql(plantedDriftSql, qp, 5)
    def recallLeg(leg: String, run: String) =
      s"""SELECT '$leg' AS leg, ne.query_id, ne.n_exact,
         |  COALESCE(na.n_approx, 0) AS n_approx,
         |  COALESCE(h.n_hits, 0) AS n_hits,
         |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
         |    / CAST(ne.n_exact AS DOUBLE) AS recall
         |FROM (SELECT query_id, COUNT(*) AS n_exact FROM tr GROUP BY 1) ne
         |LEFT JOIN (SELECT query_id, COUNT(*) AS n_approx FROM $run
         |           GROUP BY 1) na USING (query_id)
         |LEFT JOIN (SELECT t.query_id, COUNT(*) AS n_hits
         |           FROM tr t JOIN $run a ON a.query_id = t.query_id
         |             AND a.cand_id = t.cand_id GROUP BY 1) h
         |  USING (query_id)""".stripMargin
    s"""WITH sl AS ($stale),
       |fr AS ($fresh),
       |tr AS ($truth)
       |${recallLeg("stale", "sl")}
       |UNION ALL
       |${recallLeg("refreshed", "fr")}""".stripMargin
  }

  /** T20 — proximity AND unordered-NEAR serves off ONE maintained
    * POSITIONAL store: the T15 drain/fold shape, then both slop
    * operators (slop = 2) served through
    * [[PostingsStream.proximityServe]] / [[PostingsStream.nearServe]]
    * with the `m8_proximity_search` / `m8_near_search` recipes. The
    * oracle is the two batch replays, untouched — per-occurrence
    * positions must survive batching, replay semantics, and the
    * df-merging fold identically for both quorum shapes. */
  private def t20ProximityMaintain(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.PostingsStream
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val watch = writeOrderedBatches(docs, "doc_id", 3)
    val stream = fileStream(s, "doc_id BIGINT, text STRING", watch)
    val root = Dsl.tempDir("graft_t20_")
    PostingsStream.maintainPostings(stream, root + "/index", root + "/ckpt",
      positions = true).awaitTermination()
    PostingsStream.compactIndex(s, root + "/index", keepBatches = 1)
    val queries = Tables.documents(s, dir)
      .filter(col("doc_id") % 251 === 7)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(coalesce(col("text"), lit(""))),
          "\\s+"), 2, 3), " ").as("query_text"))
    def leg(name: String, df: DataFrame) =
      df.select(lit(name).as("leg"), col("query_id"), col("rank"),
        col("doc_id"), col("n_windows"))
    leg("proximity",
        PostingsStream.proximityServe(s, root + "/index", queries, k = 10,
          slop = 2))
      .unionByName(leg("near",
        PostingsStream.nearServe(s, root + "/index", queries, k = 10,
          slop = 2)))
  }

  private val t20Sql = {
    val prox = TextQueries.proximitySqlFrom("doc_id % 251 = 7", 2)
    val near = TextQueries.nearSearchSql
    s"""SELECT 'proximity' AS leg, query_id, rank, doc_id, n_windows
       |FROM ($prox)
       |UNION ALL
       |SELECT 'near' AS leg, query_id, rank, doc_id, n_windows
       |FROM ($near)""".stripMargin
  }

  /** T21 — the ANALYZED positional store end to end: the corpus (with
    * deterministically injected case/punctuation — the
    * `m8_bm25_analyzed` mutation) streams into a store maintained with
    * the {lowercase, punct-strip, stopwords {the, a}} analyzer and
    * positions, is folded, and serves BOTH retrieval modes — BM25 and
    * exact phrase — with raw-surface queries that the serve paths
    * analyze through the store's `_ANALYZER` marker. The oracle replays
    * mutation + analysis + both scoring pipelines from scratch
    * (stopworded slots stay empty in the positional replay — positions
    * must not contract across removed stopwords), so the whole
    * analyzer-as-store-mode contract certifies in one hash compare. */
  private def t21AnalyzedMaintain(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextCorpus
    import graft.streaming.PostingsStream
    val mutated = Tables.documents(s, dir)
      .select(col("doc_id"), expr(TextQueries.mutateSqlExpr).as("text"))
    val watch = writeOrderedBatches(mutated, "doc_id", 3)
    val stream = fileStream(s, "doc_id BIGINT, text STRING", watch)
    val root = Dsl.tempDir("graft_t21_")
    PostingsStream.maintainPostings(stream, root + "/index", root + "/ckpt",
      positions = true,
      analyzer = Some(TextCorpus.Analyzer(lowercase = true,
        stripPunct = true, stopwords = Seq("the", "a"))))
      .awaitTermination()
    PostingsStream.compactIndex(s, root + "/index", keepBatches = 1)
    def rawTokens(from: Int, len: Int) = Tables.documents(s, dir)
      .filter(col("doc_id") % 251 === 7)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(expr(TextQueries.mutateSqlExpr)),
          "\\s+"), from, len), " ").as("query_text"))
    def leg(name: String, df: DataFrame, score: Column) =
      df.select(lit(name).as("leg"), col("query_id"), col("rank"),
        col("doc_id"), score.cast("double").as("score"))
    leg("bm25",
        PostingsStream.bm25Serve(s, root + "/index", rawTokens(1, 4), 10),
        col("score"))
      .unionByName(leg("phrase",
        PostingsStream.phraseServe(s, root + "/index", rawTokens(2, 3), 10),
        col("n_occ")))
  }

  private val t21Sql = {
    val mutated =
      s"(SELECT doc_id, ${TextQueries.mutateSqlExpr} AS text FROM documents)"
    val bm = TextQueries.bm25AnalyzedSql
    val ph = TextQueries.phraseSqlFrom(
      queryWhere = "doc_id % 251 = 7",
      docsFrom = mutated,
      docTokens = TextQueries.analyzedTokens.format("text"),
      queryTokens = TextQueries.analyzedTokens.format("query_text"),
      stopCond = "%w NOT IN ('the', 'a')",
      queriesFrom = mutated)
    s"""SELECT 'bm25' AS leg, query_id, rank, doc_id, score FROM ($bm)
       |UNION ALL
       |SELECT 'phrase' AS leg, query_id, rank, doc_id,
       |  CAST(n_occ AS DOUBLE) AS score FROM ($ph)""".stripMargin
  }

  /** T22 — STREAMED tombstones: deletes arriving IN the stream, the
    * real takedown shape (opt-out feeds interleave with ingest — the
    * reference's queue rows carry per-row status transitions for
    * exactly this reason). Three mixed waves feed a POSITIONAL postings
    * store (`kind` ∈ add|del): wave 0 adds its corpus third; waves 1-2
    * add theirs AND carry `del` rows for every 7th doc — some deletes
    * land in the SAME batch as their add (doc_id % 7 = 3 in the wave's
    * own slice), the rest tombstone docs added by EARLIER waves. In
    * parallel the ANN lists store (T13's shape) drains three mixed
    * vector waves whose del rows tombstone every 9th vector. Serves:
    * BM25 before compaction (mask path), BM25 + phrase after
    * [[PostingsStream.compactIndex]] (physical drop, required
    * in-query), and the quantized ANN serve (mask path). The oracle
    * replays every leg from the SURVIVING corpus from scratch — blind
    * to waves, batch boundaries, tombstones, and folds — so
    * in-stream deletion equals never-ingested in one hash compare. */
  private def t22StreamDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.similarity.Similarity
    import graft.streaming.{BatchStore, IndexStream, PostingsStream}
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    def addD(i: Int) = docs.filter(col("doc_id") % 3 === i)
      .select(lit("add").as("kind"), col("doc_id"), col("text"))
    def delD(cond: Column) = docs.filter(cond)
      .select(lit("del").as("kind"), col("doc_id"),
        lit(null).cast("string").as("text"))
    val dDel = col("doc_id") % 7 === 3
    val dWatch = stageWaves(Seq(
      addD(0),
      addD(1).unionByName(delD(dDel && col("doc_id") % 3 =!= 2)),
      addD(2).unionByName(delD(dDel && col("doc_id") % 3 === 2))))
    val root = Dsl.tempDir("graft_t22_")
    val dstream = fileStream(s, "kind STRING, doc_id BIGINT, text STRING",
      dWatch)
    // the postings and ANN-lists stores are disjoint: drain both
    // CONCURRENTLY (guide §2.6) and do each leg's admin/serve steps
    // after ITS drain lands
    val postingsDrain = PostingsStream.maintainPostings(dstream,
      root + "/index", root + "/ckpt",
      positions = true, kindCol = Some("kind"))
    // ANN leg: batch-built standing lists + three mixed delta waves;
    // del rows (vec_id only, NULL embedding) tombstone every 9th vector
    val emb = Tables.embeddings(s, dir)
    val standing = emb.filter(col("vec_id") % 5 =!= 4)
    seedStandingIndex(standing, root)
    def addV(i: Int) = emb.filter(col("vec_id") % 5 === 4 &&
        col("vec_id") % 3 === i)
      .select(lit("add").as("kind"), col("vec_id"), col("embedding"))
    def delV(cond: Column) = emb.filter(cond)
      .select(lit("del").as("kind"), col("vec_id"),
        lit(null).cast("array<float>").as("embedding"))
    // vec_id % 9 = 2 forces vec_id ≡ 2 (mod 3), so the delete set is
    // split across waves by PARITY instead — both cross-batch and
    // same-batch add+del pairs occur
    val vDel = col("vec_id") % 9 === 2
    val vWatch = stageWaves(Seq(
      addV(0),
      addV(1).unionByName(delV(vDel && col("vec_id") % 2 === 0)),
      addV(2).unionByName(delV(vDel && col("vec_id") % 2 === 1))))
    val vstream = fileStream(s,
      "kind STRING, vec_id BIGINT, embedding ARRAY<FLOAT>", vWatch)
    val annDrain = IndexStream.maintainIndex(vstream,
      root + "/centroids", root + "/lists",
      Dsl.tempDir("graft_t22_ickpt_"), kindCol = Some("kind"))
    postingsDrain.awaitTermination()
    def firstTokens(from: Int, len: Int) = Tables.documents(s, dir)
      .filter(col("doc_id") % 251 === 7)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(coalesce(col("text"), lit(""))),
          "\\s+"), from, len), " ").as("query_text"))
    def leg(name: String, df: DataFrame, score: Column) =
      df.select(lit(name).as("leg"), col("query_id"), col("rank"),
        col("doc_id").as("cand_id"), score.cast("double").as("score"))
    // pre-compaction serve materialized NOW (the fold below rewrites
    // the store state this plan reads — the t17 time-travel guard)
    val pre = leg("bm25_pre",
      PostingsStream.bm25Serve(s, root + "/index", firstTokens(1, 4), 10),
      col("score")).localCheckpoint(true)
    PostingsStream.compactIndex(s, root + "/index", keepBatches = 1)
    val leaked = s.read.parquet(s"$root/index/graft_batch=-2")
      .filter(col("doc_id") % 7 === 3).count()
    require(leaked == 0,
      s"compacted base still holds $leaked rows of stream-deleted docs")
    val post = leg("bm25_post",
      PostingsStream.bm25Serve(s, root + "/index", firstTokens(1, 4), 10),
      col("score"))
    val phrase = leg("phrase_post",
      PostingsStream.phraseServe(s, root + "/index", firstTokens(2, 3), 10),
      col("n_occ"))
    annDrain.awaitTermination()
    val ann = Similarity.ivfServeQuantized(emb.filter(col("vec_id") < 8),
        s.read.parquet(root + "/centroids"),
        IndexStream.readLists(s, root + "/lists"),
        emb, 5, nprobe = 4, rescoreK = 15)
      .select(lit("ann").as("leg"), col("query_id"), col("rank"),
        col("cand_id"), round(col("cosine"), 6).cast("double").as("score"))
    pre.unionByName(post).unionByName(phrase).unionByName(ann)
  }

  private val t22Sql = {
    val survivors = "(SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3)"
    val bm = TextQueries.bm25SqlFrom(TextQueries.bm25SearchQueryCte,
      docsFrom = survivors)
    val ph = TextQueries.phraseSqlFrom("doc_id % 251 = 7",
      docsFrom = survivors)
    val ann = SimilarityQueries.ivfQServeSql(Some("vec_id % 5 <> 4"),
      Some("vec_id % 9 <> 2"))
    s"""SELECT 'bm25_pre' AS leg, query_id, rank, doc_id AS cand_id, score
       |FROM ($bm)
       |UNION ALL
       |SELECT 'bm25_post' AS leg, query_id, rank, doc_id AS cand_id, score
       |FROM ($bm)
       |UNION ALL
       |SELECT 'phrase_post' AS leg, query_id, rank, doc_id AS cand_id,
       |  CAST(n_occ AS DOUBLE) AS score FROM ($ph)
       |UNION ALL
       |SELECT 'ann' AS leg, query_id, rank, cand_id, cosine AS score
       |FROM ($ann)""".stripMargin
  }

  /** T23 — streamed tombstones through the ADMISSION pipeline: the
    * screen itself must forget deleted content (a doc that left the
    * corpus must not veto new arrivals). Three mixed waves (doc_id % 3
    * slices; waves 1-2 carry `del` rows for the doc_id % 11 = 6 docs —
    * a residue chosen to intersect real stage-2 duplicate chains, so
    * the deletes flip actual verdicts versus a delete-blind replay —
    * some deleting docs ADDED IN THE SAME WAVE, which keep their
    * verdict but leave the store tombstoned) drive
    * [[DedupStream.admitDocuments]] with `kindCol`; the output is every
    * verdict row PLUS the store's live (tombstone-masked) id set. The
    * oracle unrolls the three admission stages with the delete timing
    * made explicit — each stage's prior-admitted candidates exclude
    * docs deleted by its OWN wave and every earlier one (the batch's
    * dels pre-mask its screen: verdicts reflect post-takedown state,
    * the replay-convergent semantics) — and derives the live set as
    * replay-admitted minus everything deleted. */
  private def t23AdmissionDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.BatchStore
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    def adds(i: Int) = docs.filter(col("doc_id") % 3 === i)
      .select(lit("add").as("kind"), col("doc_id"), col("text"))
    def dels(cond: Column) = docs.filter(cond)
      .select(lit("del").as("kind"), col("doc_id"),
        lit(null).cast("string").as("text"))
    val d = col("doc_id") % 11 === 6
    val watch = stageWaves(Seq(
      adds(0),
      adds(1).unionByName(dels(d && col("doc_id") % 3 =!= 2)),
      adds(2).unionByName(dels(d && col("doc_id") % 3 === 2))))
    val root = Dsl.tempDir("graft_t23_")
    val stream = fileStream(s, "kind STRING, doc_id LONG, text STRING", watch)
    DedupStream.admitDocuments(stream, s"$root/store", s"$root/verdicts",
      s"$root/ckpt", bands = 8, rowsPerBand = 4, minAgreement = 0.5,
      portable = true, kindCol = Some("kind"))
      .awaitTermination()
    val verdicts = s.read.parquet(s"$root/verdicts")
      .select(lit("verdict").as("leg"), col("doc_id"), col("verdict"),
        col("dup_of"), col("best_agreement"), col("n_dups"), col("batch_id"))
    val live = BatchStore.readLive(s, s"$root/store", "id")(_.select("id"))
      .select(lit("store").as("leg"), col("id").as("doc_id"),
        lit(null).cast("string").as("verdict"),
        lit(null).cast("long").as("dup_of"),
        lit(null).cast("double").as("best_agreement"),
        lit(null).cast("long").as("n_dups"),
        lit(null).cast("long").as("batch_id"))
    verdicts.unionByName(live)
  }

  private val t23Sql = {
    // wave 1's dels: the D docs of slices 0-1 — they mask wave 1's OWN
    // prior-corpus screen (the pre-mask semantics) and every later one;
    // by wave 2 the cumulative delete set is all of doc_id % 11 = 6
    val del1 = "(c.doc_id % 11 = 6 AND c.doc_id % 3 <> 2)"
    s"""WITH ${DedupQueries.minhashOracleCtes},
       |${stageSql(0, "")},
       |${stageSql(1,
            s"OR (c.doc_id IN (SELECT doc_id FROM adm0) AND NOT $del1)")},
       |${stageSql(2,
            s"OR (c.doc_id IN (SELECT doc_id FROM adm0 UNION ALL SELECT doc_id FROM adm1) AND c.doc_id % 11 <> 6)")}
       |SELECT 'verdict' AS leg, doc_id, verdict, dup_of, best_agreement,
       |  n_dups, batch_id FROM
       |  (SELECT * FROM v0 UNION ALL SELECT * FROM v1
       |   UNION ALL SELECT * FROM v2)
       |UNION ALL
       |SELECT 'store' AS leg, doc_id, CAST(NULL AS VARCHAR) AS verdict,
       |  CAST(NULL AS BIGINT) AS dup_of, CAST(NULL AS DOUBLE)
       |    AS best_agreement,
       |  CAST(NULL AS BIGINT) AS n_dups, CAST(NULL AS BIGINT) AS batch_id
       |FROM (SELECT doc_id FROM adm0 UNION ALL SELECT doc_id FROM adm1
       |      UNION ALL SELECT doc_id FROM adm2)
       |WHERE doc_id % 11 <> 6""".stripMargin
  }

  /** T24 — the hybrid-retrieval capstone REBASED onto the versioned
    * [[graft.streaming.AnnIndex]] (T16 serves its dense leg from the
    * fixed-quantizer [[graft.streaming.IndexStream]] store; the
    * refresh-capable lifecycle was previously gated only in isolation by
    * T19): the dense index initializes on the standing corpus, drains
    * three DRIFTED delta waves ([[plantedDrift]]) against the stale
    * quantizer, is refreshed mid-lifecycle (retrain on the drained live
    * corpus → re-encode → atomic version swap, REQUIRED in-query to
    * have published version 2), and serves post-refresh; the sparse leg
    * is the T14 postings store; both fuse with reciprocal-rank fusion.
    * The oracle composes the T19 "refreshed" replay (a from-scratch
    * quantized build over the full planted corpus — the refresh
    * identity) with the T16 fusion replay, so maintenance + refresh +
    * both serves + fusion certify in one hash compare. */
  private def t24HybridRefresh(s: SparkSession, dir: String): DataFrame = {
    import graft.similarity.Similarity
    import graft.streaming.{AnnIndex, PostingsStream}
    val k = 5
    val root = Dsl.tempDir("graft_t24_")
    // the sparse postings store is disjoint from the ANN lifecycle:
    // start its drain FIRST so the whole init→drain→refresh dense leg
    // overlaps it (guide §2.6)
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val dstream = fileStream(s, "doc_id BIGINT, text STRING",
      writeOrderedBatches(docs, "doc_id", 3))
    val sparseDrain = PostingsStream.maintainPostings(dstream,
      root + "/postings", Dsl.tempDir("graft_t24_pckpt_"))
    val corpus = Tables.spread(plantedDrift(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    AnnIndex.init(s, root + "/ann", corpus.filter(col("vec_id") % 5 =!= 4),
      nlist = 16, lloydIters = 2)
    val delta = corpus.filter(col("vec_id") % 5 === 4)
    val vstream = fileStream(s, "vec_id BIGINT, embedding ARRAY<FLOAT>",
      writeOrderedBatches(delta, "vec_id", 3))
    AnnIndex.maintain(vstream, root + "/ann", Dsl.tempDir("graft_t24_ckpt_"))
      .awaitTermination()
    val v2 = AnnIndex.refresh(s, root + "/ann", corpus,
      nlist = 16, lloydIters = 2)
    require(v2 == 2L, s"refresh must publish version 2, got $v2")
    val dense = AnnIndex.serve(s, root + "/ann",
        corpus.filter(col("vec_id") < 8), corpus, k, nprobe = 4)
      .select("query_id", "cand_id", "rank")
    sparseDrain.awaitTermination()
    val queries = Tables.documents(s, dir)
      .filter(col("doc_id") < 8)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(coalesce(col("text"), lit(""))),
          "\\s+"), 1, 4), " ").as("query_text"))
    val sparse = PostingsStream.bm25Serve(s, root + "/postings", queries, k)
      .withColumnRenamed("doc_id", "cand_id")
    val fused = Similarity.rrfFuse(Seq(sparse, dense), k)
    corpus.unpersist()
    fused
  }

  private val t24Sql = {
    val sparseQueryCte =
      """SELECT doc_id AS query_id,
        |    array_to_string(list_slice(
        |      string_split_regex(trim(text), '\s+'), 1, 4), ' ') AS query_text
        |  FROM documents WHERE doc_id < 8""".stripMargin
    // the refresh identity: the post-swap index IS a from-scratch
    // quantized build over the full planted (drifted) corpus
    val freshIvf = SimilarityQueries.ivfQServeSql(None, None,
      plantedDriftSql, "q.vec_id < 8", nprobe = 4)
    s"""WITH ${TextQueries.bm25OracleCtes(sparseQueryCte)},
       |hivf AS ($freshIvf),
       |hterms AS (
       |  SELECT query_id, cand_id,
       |    1000000000 // (60 + CAST(rank AS BIGINT)) AS term_fp
       |  FROM (SELECT query_id, doc_id AS cand_id, rank FROM bmranked
       |          WHERE rank <= 5
       |        UNION ALL
       |        SELECT query_id, cand_id, rank FROM hivf)),
       |hfused AS (
       |  SELECT query_id, cand_id, CAST(SUM(term_fp) AS BIGINT) AS rrf_fp
       |  FROM hterms GROUP BY 1, 2),
       |hranked AS (
       |  SELECT query_id, cand_id, rrf_fp,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY rrf_fp DESC, cand_id) AS rank
       |  FROM hfused)
       |SELECT query_id, CAST(rank AS INT) AS rank, cand_id,
       |  CAST(rrf_fp AS DOUBLE) / 1000000000.0 AS rrf
       |FROM hranked WHERE rank <= 5""".stripMargin
  }

  /** M8 — proximity AND unordered NEAR over an ANALYZED positional
    * store, with a PLANTED stopword-inside-window case: every doc gets
    * " the a " spliced between its 2nd and 3rd tokens, the store is
    * maintained with the {lowercase, punct-strip, stop {the, a}}
    * analyzer + positions, and the queries are each 251st doc's
    * ORIGINAL tokens 2-3 — so in the indexed doc the two query terms
    * sit at analyzed slots 2 and 5, separated by two stopworded SLOTS
    * that must stay EMPTY but occupied. Under correct keep-the-slot
    * semantics the pair needs slop ≥ 2 (ordered) / window ≥ 4
    * (unordered); an implementation that contracted positions across
    * removed stopwords would match it already at slop 1 — which is why
    * the slop = 1 legs are in the gate alongside the slop = 2 legs: the
    * oracle replays keep-the-slot positions, so contraction flips the
    * slop-1 ranking and fails the hash. Covers the t21 invariant
    * (`TextCorpus.positional` keeps stopworded slots) under slop, where
    * it actually bites. */
  private def m8ProximityAnalyzed(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextCorpus
    import graft.streaming.PostingsStream
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val arr = split(trim(coalesce(col("text"), lit(""))), "\\s+")
    val mutated = docs.select(col("doc_id"),
      array_join(concat(slice(arr, 1, 2), array(lit("the"), lit("a")),
        slice(arr, lit(3), greatest(size(arr) - 2, lit(0)))), " ")
        .as("text"))
    val watch = writeOrderedBatches(mutated, "doc_id", 3)
    val stream = fileStream(s, "doc_id BIGINT, text STRING", watch)
    val root = Dsl.tempDir("graft_m8pxan_")
    PostingsStream.maintainPostings(stream, root + "/index", root + "/ckpt",
      positions = true,
      analyzer = Some(TextCorpus.Analyzer(lowercase = true,
        stripPunct = true, stopwords = Seq("the", "a"))))
      .awaitTermination()
    PostingsStream.compactIndex(s, root + "/index", keepBatches = 1)
    val queries = Tables.documents(s, dir)
      .filter(col("doc_id") % 251 === 7)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(coalesce(col("text"), lit(""))),
          "\\s+"), 2, 2), " ").as("query_text"))
    def leg(name: String, df: DataFrame) =
      df.select(lit(name).as("leg"), col("query_id"), col("rank"),
        col("doc_id"), col("n_windows"))
    // ONE positional-store scan shared by all four serve legs: read +
    // tombstone-mask once and materialize it EAGERLY — four
    // concurrently-scheduled union branches would otherwise each
    // re-scan — as a local checkpoint, which (unlike a persist) leaves
    // no cache entry behind the query
    val pos = PostingsStream.readPositional(s, root + "/index")
      .localCheckpoint()
    val analyzer = PostingsStream.storeAnalyzer(s, root + "/index")
    leg("prox_s1", TextCorpus.proximityMatchTopK(pos, queries, 10, 1,
        analyzer = analyzer))
      .unionByName(leg("prox_s2", TextCorpus.proximityMatchTopK(pos,
        queries, 10, 2, analyzer = analyzer)))
      .unionByName(leg("near_s1", TextCorpus.nearMatchTopK(pos, queries,
        10, 1, analyzer = analyzer)))
      .unionByName(leg("near_s2", TextCorpus.nearMatchTopK(pos, queries,
        10, 2, analyzer = analyzer)))
  }

  private val m8ProximityAnalyzedSql = {
    val mutDocs =
      """(SELECT doc_id, array_to_string(list_concat(list_concat(
        |    list_slice(a, 1, 2), ['the', 'a']), list_slice(a, 3, len(a))),
        |    ' ') AS text
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS a
        |        FROM documents))""".stripMargin
    def one(f: (String, Int, String, String, String, String, String, Int)
              => String, slop: Int) =
      f("doc_id % 251 = 7", slop, mutDocs, "documents",
        TextQueries.analyzedTokens.format("text"),
        TextQueries.analyzedTokens.format("query_text"),
        "%w NOT IN ('the', 'a')", 3)
    val px: (String, Int, String, String, String, String, String, Int)
      => String = TextQueries.proximitySqlFrom
    val nr: (String, Int, String, String, String, String, String, Int)
      => String = TextQueries.nearSqlFrom
    s"""SELECT 'prox_s1' AS leg, query_id, rank, doc_id, n_windows
       |FROM (${one(px, 1)})
       |UNION ALL
       |SELECT 'prox_s2' AS leg, query_id, rank, doc_id, n_windows
       |FROM (${one(px, 2)})
       |UNION ALL
       |SELECT 'near_s1' AS leg, query_id, rank, doc_id, n_windows
       |FROM (${one(nr, 1)})
       |UNION ALL
       |SELECT 'near_s2' AS leg, query_id, rank, doc_id, n_windows
       |FROM (${one(nr, 2)})""".stripMargin
  }

  /** T25 — deletion through the LEDGER and the maintained SAMPLE, the
    * two stores whose delete paths were previously spec-only: two
    * admission waves build the duplicate-group ledger, every
    * 11th-mod-5 doc is taken down ([[graft.streaming.DeltaLedger
    * .delete]]), the latest-wins fold physically drops their label
    * rows (required in-query), and the surviving labeling is read
    * back; in parallel a 50-doc weighted sample is maintained over two
    * waves and the same takedown runs through
    * [[graft.streaming.SampleStream.deleteFromSample]] (the sample
    * SHRINKS — the discarded (k+1)-th priority is not resurrectable,
    * the documented semantics). The oracle replays the two-stage
    * admission + recursive closure and the full-corpus priority
    * ranking, both delete-blind, and filters the deleted ids at the
    * END — survivors-only equivalence for both stores in one hash
    * compare. (Deleted docs still participate in closure edges, and a
    * surviving doc may keep a deleted doc's id as its CLUSTER LABEL —
    * labels are opaque names, not living rows.) */
  private def t25LedgerDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{BatchStore, DeltaLedger, SampleStream,
      ViewMaintenance}
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val root = Dsl.tempDir("graft_t25_")
    val watch = writeOrderedBatches(docs, "doc_id", 2)
    val stream = fileStream(s, "doc_id LONG, text STRING", watch)
    // the ledger and sample stores are disjoint: drain both
    // CONCURRENTLY (guide §2.6), then run each store's takedown after
    // ITS drain lands
    val admitDrain = DedupStream.admitDocuments(stream, s"$root/store",
      s"$root/verdicts", s"$root/ckpt",
      bands = 8, rowsPerBand = 4, minAgreement = 0.5,
      portable = true, labelsDir = Some(s"$root/labels"))
    val sdocs = Tables.documents(s, dir).select("doc_id", "n_chars")
    val sstream = fileStream(s, "doc_id LONG, n_chars LONG",
      writeOrderedBatches(sdocs, "doc_id", 2))
    val sampleDrain = SampleStream.maintainSample(sstream, s"$root/sample",
      s"$root/sckpt", k = 50, salt = "ssam",
      idCol = "doc_id", weightCol = "n_chars")
    admitDrain.awaitTermination()
    val dels = docs.filter(col("doc_id") % 11 === 5).select("doc_id")
    DeltaLedger.delete(s, s"$root/labels", dels)
    DeltaLedger.compact(s, s"$root/labels", keepBatches = 1)
    val leaked = s.read.parquet(s"$root/labels/graft_batch=-2")
      .filter(col("doc_id") % 11 === 5).count()
    require(leaked == 0,
      s"compacted ledger base still holds $leaked deleted label rows")
    val ledger = DeltaLedger.read(s, s"$root/labels")
      .select(lit("ledger").as("leg"), col("doc_id"),
        col("cluster_id").as("val"))
    sampleDrain.awaitTermination()
    SampleStream.deleteFromSample(s, s"$root/sample", dels)
    val sample = ViewMaintenance.readLatest(s, s"$root/sample").get
      .select(lit("sample").as("leg"), col("sample_id").as("doc_id"),
        col("weight").cast("long").as("val"))
    ledger.unionByName(sample)
  }

  private val t25Sql =
    s"""WITH RECURSIVE ${DedupQueries.minhashOracleCtes},
       |${stageSql(0, "", 2)},
       |${stageSql(1, "OR c.doc_id IN (SELECT doc_id FROM adm0)", 2)},
       |ed0 AS (
       |  SELECT new_id AS u, dup_of AS v FROM h0
       |  UNION ALL SELECT new_id, dup_of FROM h1),
       |e AS (SELECT u, v FROM ed0 UNION ALL SELECT v, u FROM ed0),
       |reach AS (
       |  SELECT u, v FROM e
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
       |ccl AS (
       |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
       |  FROM reach GROUP BY u)
       |SELECT 'ledger' AS leg, d.doc_id,
       |  COALESCE(c.cluster_id, d.doc_id) AS val
       |FROM documents d LEFT JOIN ccl c USING (doc_id)
       |WHERE d.doc_id % 11 <> 5
       |UNION ALL
       |SELECT 'sample' AS leg, doc_id, CAST(n_chars AS BIGINT) AS val
       |FROM (
       |  SELECT doc_id, n_chars,
       |    ROW_NUMBER() OVER (ORDER BY
       |      CAST(${Dsl.hex60Sql("'ssam|' || doc_id::VARCHAR")} AS DOUBLE)
       |        / CAST(n_chars AS DOUBLE) ASC,
       |      doc_id) AS rn
       |  FROM documents)
       |WHERE rn <= 50 AND doc_id % 11 <> 5""".stripMargin

  /** T26 — streamed tombstones through the maintained SAMPLE: three
    * mixed add/delete waves (doc_id % 3 slices; waves 1-2 carry `del`
    * rows for every 13th-mod-4 doc — cross-batch AND same-batch
    * add+del pairs) drive [[graft.streaming.SampleStream
    * .maintainSample]] with `kindCol`. Unlike every other store's
    * survivors oracle, the maintained sample is NOT batch-blind under
    * deletion — the shrink-not-refill contract means a delete discards
    * sample slots that only LATER adds can refill — so the oracle
    * replays the exact per-wave state machine: top-50 of wave 0, fold
    * wave 1 and cut, drop the deleted, fold wave 2 over the SURVIVORS
    * and cut, drop wave 2's deleted. Every step is the priority
    * ranking both engines already agree on (`m8_stream_sample`), so
    * the one hash compare certifies fold ∘ delete ∘ fold
    * composition. */
  private def t26StreamSampleDelete(s: SparkSession, dir: String)
      : DataFrame = {
    import graft.streaming.{SampleStream, ViewMaintenance}
    val docs = Tables.documents(s, dir).select("doc_id", "n_chars")
    def adds(i: Int) = docs.filter(col("doc_id") % 3 === i)
      .select(lit("add").as("kind"), col("doc_id"), col("n_chars"))
    def dels(cond: Column) = docs.filter(cond)
      .select(lit("del").as("kind"), col("doc_id"),
        lit(null).cast("long").as("n_chars"))
    val d = col("doc_id") % 13 === 4
    val watch = stageWaves(Seq(
      adds(0),
      adds(1).unionByName(dels(d && col("doc_id") % 3 =!= 2)),
      adds(2).unionByName(dels(d && col("doc_id") % 3 === 2))))
    val root = Dsl.tempDir("graft_t26_")
    val stream = fileStream(s, "kind STRING, doc_id LONG, n_chars LONG", watch)
    SampleStream.maintainSample(stream, s"$root/state", s"$root/ckpt",
        k = 50, salt = "ssam", idCol = "doc_id", weightCol = "n_chars",
        kindCol = Some("kind"))
      .awaitTermination()
    ViewMaintenance.readLatest(s, s"$root/state").get
      .select(col("sample_id").as("doc_id"),
        col("weight").cast("long").as("weight"))
  }

  private val t26Sql = {
    val pr = s"CAST(${Dsl.hex60Sql("'ssam|' || doc_id::VARCHAR")} AS DOUBLE)" +
      " / CAST(n_chars AS DOUBLE)"
    def top50(from: String) =
      s"""SELECT doc_id FROM (
         |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY $pr ASC, doc_id)
         |      AS rn
         |    FROM documents WHERE $from) WHERE rn <= 50""".stripMargin
    s"""WITH t0 AS (${top50("doc_id % 3 = 0")}),
       |u1 AS (SELECT doc_id FROM t0
       |       UNION ALL SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
       |t1 AS (${top50("doc_id IN (SELECT doc_id FROM u1)")}),
       |t1s AS (SELECT doc_id FROM t1
       |        WHERE NOT (doc_id % 13 = 4 AND doc_id % 3 <> 2)),
       |u2 AS (SELECT doc_id FROM t1s
       |       UNION ALL SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
       |t2 AS (${top50("doc_id IN (SELECT doc_id FROM u2)")})
       |SELECT doc_id, CAST(n_chars AS BIGINT) AS weight
       |FROM documents
       |WHERE doc_id IN (SELECT doc_id FROM t2)
       |  AND NOT (doc_id % 13 = 4 AND doc_id % 3 = 2)""".stripMargin
  }

  /** Append one more single-file wave to an existing watch dir, mtime
    * stamped NOW — strictly after anything [[stageWaves]] /
    * [[writeOrderedBatches]] stamped (their base rides an hour in the
    * past), so a second drain over the same checkpoint picks it up as
    * the next batch. */
  private def appendWave(watch: String, df: DataFrame, name: String): Unit = {
    val stage = Dsl.tempDir("graft_stream_stage_")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dest = new java.io.File(watch, name)
    java.nio.file.Files.move(part.toPath, dest.toPath)
    dest.setLastModified(System.currentTimeMillis())
    ()
  }

  /** T27 — DELETE/RETRACTION through the maintained VIEW, the one store
    * family member whose takedown couldn't land before round 17 (the
    * monoid state cannot retract a min/max contribution): two event
    * waves fold through [[ViewMaintenance.maintain]], a MID-LIFECYCLE
    * takedown removes every 7th-mod-1 wave-0/1 row PLUS — the planted
    * trap — each event_type's MIN and MAX event_id among the folded
    * rows, so any implementation that "retracts" lazily (subtracting
    * sums without recomputing extrema from survivors) keeps a deleted
    * row's min/max and fails the hash. [[ViewMaintenance.deleteFromView]]
    * re-aggregates ONLY the affected groups from the surviving source
    * rows; a third wave then folds ONTO the post-delete state through
    * the same checkpoint (the mid-lifecycle part: retraction must
    * compose with continued maintenance). The oracle is the flat
    * aggregate over survivors + wave 2 — batch-blind, fold-blind,
    * delete-blind. */
  private def t27ViewDelete(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select("event_id", "user_id", "event_type")
    val measures = Seq(
      Measure("n", "count", lit(1)),
      Measure("sum_uid", "sum", col("user_id")),
      Measure("min_id", "min", col("event_id")),
      Measure("max_id", "max", col("event_id")))
    val w01 = ev.filter(col("event_id") % 3 =!= 2)
    val watch = stageWaves(Seq(
      ev.filter(col("event_id") % 3 === 0),
      ev.filter(col("event_id") % 3 === 1)))
    val root = Dsl.tempDir("graft_t27_")
    def drain(): Unit =
      ViewMaintenance.maintain(
        fileStream(s, "event_id BIGINT, user_id BIGINT, event_type STRING",
          watch),
        s"$root/state", s"$root/ckpt",
        keys = Seq("event_type"), measures = measures).awaitTermination()
    drain()
    // the takedown set: every 7th-mod-1 folded row plus each group's
    // min/max holder among the folded rows — the extrema recompute trap
    val mm = w01.groupBy("event_type")
      .agg(min("event_id").as("mn"), max("event_id").as("mx"))
    val dels = w01.join(mm, Seq("event_type"))
      .filter(col("event_id") % 7 === 1 ||
        col("event_id") === col("mn") || col("event_id") === col("mx"))
      .select("event_id", "user_id", "event_type")
    val survivors = w01.join(dels.select("event_id"),
      Seq("event_id"), "left_anti")
    ViewMaintenance.deleteFromView(s, s"$root/state",
      Seq("event_type"), measures, dels, survivors)
    // mid-lifecycle: wave 2 folds onto the post-delete state through
    // the SAME checkpoint
    appendWave(watch, ev.filter(col("event_id") % 3 === 2), "b2.parquet")
    drain()
    ViewMaintenance.readLatest(s, s"$root/state").get
      .select("event_type", "n", "sum_uid", "min_id", "max_id")
  }

  private val t27Sql =
    """WITH w01 AS (
      |  SELECT event_id, user_id, event_type FROM events
      |  WHERE event_id % 3 <> 2),
      |mm AS (
      |  SELECT event_type, MIN(event_id) AS mn, MAX(event_id) AS mx
      |  FROM w01 GROUP BY 1),
      |del AS (
      |  SELECT w.event_id FROM w01 w JOIN mm USING (event_type)
      |  WHERE w.event_id % 7 = 1 OR w.event_id = mm.mn
      |     OR w.event_id = mm.mx),
      |surv AS (
      |  SELECT event_id, user_id, event_type FROM events
      |  WHERE event_id NOT IN (SELECT event_id FROM del))
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(user_id) AS BIGINT) AS sum_uid,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM surv GROUP BY 1""".stripMargin

  /** T29 — STREAMED tombstones through the maintained VIEW
    * ([[ViewMaintenance.maintain]] with `kindCol`): three mixed waves
    * where deletes arrive cross-batch (targets folded by earlier
    * waves), same-batch (delete wins over its own add), and BEFORE
    * their add (wave 1 deletes ids only wave 2 adds — the standing
    * tombstone must suppress the late add), plus the global smallest
    * event_ids (certain min-holders of their groups, the lazy-
    * retraction trap). The folded-id ledger keeps every retraction's
    * survivor set to exactly the rows folded so far, so the final view
    * is `state(all adds − all dels)` — batch-blind — and the oracle is
    * the flat aggregate over never-deleted rows, blind to waves,
    * arrival order, tombstones, ledger, the retraction splices, AND
    * the in-stream ledger compaction (`compactIdsOver = 1` folds the
    * earlier waves' `_ids` dirs into a base generation mid-lifecycle —
    * the lifecycle bound on the rare-delete path's listing cost). */
  private def t29StreamViewDelete(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select("event_id", "user_id", "event_type")
    val measures = Seq(
      Measure("n", "count", lit(1)),
      Measure("sum_uid", "sum", col("user_id")),
      Measure("min_id", "min", col("event_id")),
      Measure("max_id", "max", col("event_id")))
    def adds(i: Int) = ev.filter(col("event_id") % 3 === i)
      .select(lit("add").as("kind"), col("event_id"), col("user_id"),
        col("event_type"))
    def dels(cond: Column) = ev.filter(cond)
      .select(lit("del").as("kind"), col("event_id"),
        lit(null).cast("long").as("user_id"),
        lit(null).cast("string").as("event_type"))
    val dMain = col("event_id") % 13 === 2 || col("event_id") < 3
    val watch = stageWaves(Seq(
      adds(0),
      adds(1).unionByName(dels(dMain && col("event_id") % 3 =!= 1)),
      adds(2).unionByName(dels((dMain && col("event_id") % 3 === 1) ||
        (col("event_id") % 13 === 7 && col("event_id") % 3 === 2)))))
    val root = Dsl.tempDir("graft_t29_")
    val stream = fileStream(s,
      "kind STRING, event_id BIGINT, user_id BIGINT, event_type STRING", watch)
    // compactIdsOver = 1: the third wave folds the first two ledger
    // dirs into a base generation BEFORE its own takedowns run — the
    // gate's hash certifies that ledger compaction cannot change a
    // retraction's answer (union is order-free, the survivor join is
    // set-semantics)
    ViewMaintenance.maintain(stream, s"$root/state", s"$root/ckpt",
        keys = Seq("event_type"), measures = measures,
        kindCol = Some("kind"), idCol = "event_id", corpus = Some(ev),
        compactIdsOver = Some(1))
      .awaitTermination()
    ViewMaintenance.readLatest(s, s"$root/state").get
      .select("event_type", "n", "sum_uid", "min_id", "max_id")
  }

  private val t29Sql =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(user_id) AS BIGINT) AS sum_uid,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM events
      |WHERE NOT (event_id % 13 = 2 OR event_id < 3
      |           OR (event_id % 13 = 7 AND event_id % 3 = 2))
      |GROUP BY 1""".stripMargin

  /** The SYNTHETIC clustered corpus for the drift-policy gate — exact
    * integer components, so both engines see identical vectors with
    * zero float-construction risk: standing ids (vec_id % 5 ≠ 4) sit in
    * four tight clusters on axes 0-3 (component = 100 on the axis, plus
    * a 0-4 jitter everywhere: `(vec_id*7 + d*3) % 5`), the delta
    * (vec_id % 5 = 4) is a fifth cluster on axis 5 the stale quantizer
    * never saw — per-batch residual ≈ 1 against a baseline of ~1e-3,
    * the unmistakable distribution shift a drift monitor exists to
    * catch (the [[plantedDrift]] spike on REAL test embeddings cannot
    * discriminate: their residual hovers ~0.8 under ANY quantizer —
    * AnnIndexSpec documents the same modeling choice). */
  private def clusteredCorpus(s: SparkSession, dir: String): DataFrame = {
    val axis = when(col("vec_id") % 5 === 4, lit(5L))
      .otherwise(col("vec_id") % 4)
    Tables.embeddings(s, dir).select(col("vec_id"), axis.as("axis"))
      .select(col("vec_id"),
        array((0 until 8).map { d =>
          (when(col("axis") === d, lit(100L)).otherwise(lit(0L)) +
            (col("vec_id") * 7 + lit(d * 3)) % 5).cast("float")
        }: _*).as("embedding"))
  }

  private val clusteredCorpusSql =
    """
      |  SELECT vec_id,
      |    list_transform(generate_series(0, 7), d ->
      |      CAST((CASE WHEN d = axis THEN 100 ELSE 0 END)
      |         + (vec_id * 7 + d * 3) % 5 AS DOUBLE)) AS v
      |  FROM (SELECT vec_id,
      |          CASE WHEN vec_id % 5 = 4 THEN 5 ELSE vec_id % 4 END AS axis
      |        FROM embeddings)""".stripMargin

  /** T28 — the drift-TRIGGERED refresh gated end to end (T24 refreshes
    * manually; [[AnnIndex.RefreshPolicy]] was previously spec-only):
    * the index initializes on the standing clusters, then drains three
    * off-manifold delta waves with `refreshPolicy` set and NO manual
    * refresh call. Wave 0's monitored encode crosses the planted
    * residual threshold (≈1 vs a ~1e-3 training baseline, factor 2),
    * so the stream itself retrains mid-drain — on standing + wave 0,
    * the live corpus at that between-batches instant — swaps to
    * version 2 (REQUIRED in-query: v≠2 means the trigger misfired or
    * double-fired), and waves 1-2 encode against the new quantizer
    * automatically (post-refresh baseline is trained on the drifted
    * cluster, so they must NOT re-trigger). The retrain corpus is
    * STORE-DERIVED ([[AnnIndex.StoreCorpus]]): the trigger reads the
    * live float vectors out of an admitVectors-shaped [[BatchStore]]
    * at refresh time — the production source — rather than a snapshot
    * pinned when the policy was wired. The oracle replays the end
    * state with the trigger timing made explicit: a quantizer trained
    * on standing ∪ wave 0, every vector encoded against it, served at
    * nprobe 4 — so WHEN the policy fires is pinned by the same hash
    * that pins WHAT the rebuild computes. */
  private def t28PolicyRefresh(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{AnnIndex, BatchStore}
    val corpus = Tables.spread(clusteredCorpus(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val root = Dsl.tempDir("graft_t28_")
    AnnIndex.init(s, root, corpus.filter(col("vec_id") % 5 =!= 4),
      nlist = 16, lloydIters = 2)
    val delta = corpus.filter(col("vec_id") % 5 === 4)
    val stream = fileStream(s, "vec_id BIGINT, embedding ARRAY<FLOAT>",
      writeOrderedBatches(delta, "vec_id", 3))
    // production corpus source: the float vectors sit in an
    // admitVectors-shaped BatchStore the trigger reads AT REFRESH TIME
    // (pointer filter + tombstone mask + pinned schema) — the pinned-
    // snapshot mode is the test/replay shape; refresh()'s semi-join to
    // the live list ids keeps the rebuild exact under a superset store,
    // so the oracle (trigger timing + rebuild arithmetic) is unchanged
    val vecStore = Dsl.tempDir("graft_t28_vecs_")
    corpus.select(col("vec_id").as("id"), col("embedding").as("v"))
      .write.mode("overwrite")
      .parquet(s"$vecStore/${BatchStore.BatchCol}=-1")
    AnnIndex.maintain(stream, root, Dsl.tempDir("graft_t28_ckpt_"),
        refreshPolicy = Some(AnnIndex.RefreshPolicy(2.0,
          AnnIndex.StoreCorpus(vecStore), nlist = 16, lloydIters = 2)))
      .awaitTermination()
    val v = AnnIndex.currentVersion(s, root)
    require(v.contains(2L),
      s"planted drift must trigger exactly one policy refresh, got $v")
    val out = AnnIndex.serve(s, root, corpus.filter(col("vec_id") < 8),
        corpus, k = 5, nprobe = 4)
      .select(col("query_id"), col("rank"), col("cand_id"),
        round(col("cosine"), 6).as("cosine"))
    corpus.unpersist()
    out
  }

  private val t28Sql = SimilarityQueries.ivfQServeSql(
    // the trigger fires at wave 0's end: the retrain corpus is standing
    // (% 5 ≠ 4) plus the first delta wave (% 3 = 0 of the % 5 = 4 ids)
    trainPred = Some("vec_id % 5 <> 4 OR vec_id % 3 = 0"),
    servePred = None,
    eCte = clusteredCorpusSql,
    queryPred = "q.vec_id < 8",
    nprobe = 4)

  /** M8 — streaming SEMANTIC admission ([[DedupStream.admitVectors]]):
    * three embedding waves (vec_id % 3) screen against the growing
    * store of admitted vectors via the hyperplane-LSH + cosine ≥ 0.4
    * screen (portable planes, corpus-SIZED count — the oracle replays
    * the [[graft.dedup.Dedup.choosePlanes]] derivation, the
    * `m8_dedup_embedding` contract), the batch-mode `m8_semantic_dedup`
    * composition run as an ingest loop. Output: every verdict row plus
    * the store's live id set; the oracle unrolls the three stages —
    * each screens against prior stages' ADMITTED vectors plus earlier
    * same-batch vectors — exactly the [[graft.dedup.Dedup
    * .embeddingIncremental]] contract. */
  private def streamSemantic(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.BatchStore
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val planes = graft.dedup.Dedup.choosePlanes(math.max(1L, emb.count()))
    val watch = writeOrderedBatches(
      emb.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id", 3)
    val root = Dsl.tempDir("graft_m8ssem_")
    val stream = fileStream(s, "doc_id BIGINT, embedding ARRAY<FLOAT>", watch)
    DedupStream.admitVectors(stream, s"$root/store", s"$root/verdicts",
        s"$root/ckpt", planes = planes, minCosine = 0.4, portable = true)
      .awaitTermination()
    val verdicts = s.read.parquet(s"$root/verdicts")
      .select(lit("verdict").as("leg"), col("doc_id"), col("verdict"),
        col("dup_of"), round(col("best_cosine"), 6).as("best_cosine"),
        col("n_dups"), col("batch_id"))
    val live = BatchStore.read(s, s"$root/store")
      .select(lit("store").as("leg"), col("id").as("doc_id"),
        lit(null).cast("string").as("verdict"),
        lit(null).cast("long").as("dup_of"),
        lit(null).cast("double").as("best_cosine"),
        lit(null).cast("long").as("n_dups"),
        lit(null).cast("long").as("batch_id"))
    verdicts.unionByName(live)
  }

  /** The three-stage semantic-admission replay, parameterized by the
    * later stages' prior-admitted candidate extras (where the
    * streamed-tombstone variant injects its cumulative delete
    * exclusions — the pre-mask timing) and the live-set filter. */
  private def streamSemanticSqlFrom(adm1Extra: String, adm2Extra: String,
                                    liveWhere: String): String = {
    def cos(a: String, b: String) =
      s"""list_inner_product($a, $b) /
         |      (sqrt(list_inner_product($a, $a)) *
         |       sqrt(list_inner_product($b, $b)))""".stripMargin
    def stage(i: Int, admitted: String) =
      s"""sc$i AS (
         |  SELECT DISTINCT n.vec_id AS new_id, c.vec_id AS cand_id
         |  FROM sb n JOIN sb c ON n.bucket = c.bucket
         |  WHERE n.vec_id % 3 = $i AND (
         |        (c.vec_id % 3 = $i AND c.vec_id < n.vec_id)
         |        $admitted)),
         |sa$i AS (
         |  SELECT i.new_id, i.cand_id, ${cos("en.v", "ec.v")} AS cosine
         |  FROM sc$i i
         |  JOIN se en ON en.vec_id = i.new_id
         |  JOIN se ec ON ec.vec_id = i.cand_id),
         |sh$i AS (
         |  SELECT new_id, MIN(cand_id) AS dup_of,
         |    MAX(cosine) AS best_cosine, COUNT(*) AS n_dups
         |  FROM sa$i WHERE cosine >= 0.4 GROUP BY 1),
         |sadm$i AS (
         |  SELECT vec_id FROM embeddings
         |  WHERE vec_id % 3 = $i
         |    AND vec_id NOT IN (SELECT new_id FROM sh$i)),
         |sv$i AS (
         |  SELECT e.vec_id AS doc_id,
         |    CASE WHEN h.new_id IS NULL THEN 'admit' ELSE 'reject' END
         |      AS verdict,
         |    h.dup_of, round(h.best_cosine, 6) AS best_cosine,
         |    CAST(COALESCE(h.n_dups, 0) AS BIGINT) AS n_dups,
         |    CAST($i AS BIGINT) AS batch_id
         |  FROM (SELECT vec_id FROM embeddings WHERE vec_id % 3 = $i) e
         |  LEFT JOIN sh$i h ON h.new_id = e.vec_id)""".stripMargin
    s"""WITH ${DedupQueries.sizedPlanesCte},
       |se AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |sb AS (SELECT vec_id, ${OracleVectors.sizedBucketSql(64)} AS bucket
       |       FROM se CROSS JOIN p),
       |${stage(0, "")},
       |${stage(1, adm1Extra)},
       |${stage(2, adm2Extra)}
       |SELECT 'verdict' AS leg, doc_id, verdict, dup_of, best_cosine,
       |  n_dups, batch_id
       |FROM (SELECT * FROM sv0 UNION ALL SELECT * FROM sv1
       |      UNION ALL SELECT * FROM sv2)
       |UNION ALL
       |SELECT 'store' AS leg, vec_id AS doc_id,
       |  CAST(NULL AS VARCHAR) AS verdict, CAST(NULL AS BIGINT) AS dup_of,
       |  CAST(NULL AS DOUBLE) AS best_cosine, CAST(NULL AS BIGINT) AS n_dups,
       |  CAST(NULL AS BIGINT) AS batch_id
       |FROM (SELECT vec_id FROM sadm0 UNION ALL SELECT vec_id FROM sadm1
       |      UNION ALL SELECT vec_id FROM sadm2)
       |$liveWhere""".stripMargin
  }

  private val streamSemanticSql = streamSemanticSqlFrom(
    "OR c.vec_id IN (SELECT vec_id FROM sadm0)",
    "OR c.vec_id IN (SELECT vec_id FROM sadm0 " +
      "UNION ALL SELECT vec_id FROM sadm1)",
    liveWhere = "")

  /** T30 — streamed tombstones through the SEMANTIC admission pipeline
    * (t23's construction on the embedding family): three mixed waves
    * (vec_id % 3 slices; waves 1-2 carry `del` rows for the
    * vec_id % 11 = 6 vectors — cross-batch takedowns of screened
    * content plus same-wave add+del pairs) drive
    * [[DedupStream.admitVectors]] with `kindCol`. The batch's own dels
    * pre-mask its screen (post-takedown verdicts, convergent replay),
    * so the oracle's stage i excludes prior-admitted candidates
    * deleted by waves ≤ i, and the live store is replay-admitted minus
    * everything deleted. */
  private def t30SemanticDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.BatchStore
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val planes = graft.dedup.Dedup.choosePlanes(math.max(1L, emb.count()))
    def adds(i: Int) = emb.filter(col("vec_id") % 3 === i)
      .select(lit("add").as("kind"), col("vec_id").as("doc_id"),
        col("embedding"))
    def dels(cond: Column) = emb.filter(cond)
      .select(lit("del").as("kind"), col("vec_id").as("doc_id"),
        lit(null).cast("array<float>").as("embedding"))
    val d = col("vec_id") % 11 === 6
    val watch = stageWaves(Seq(
      adds(0),
      adds(1).unionByName(dels(d && col("vec_id") % 3 =!= 2)),
      adds(2).unionByName(dels(d && col("vec_id") % 3 === 2))))
    val root = Dsl.tempDir("graft_t30_")
    val stream = fileStream(s,
      "kind STRING, doc_id BIGINT, embedding ARRAY<FLOAT>", watch)
    DedupStream.admitVectors(stream, s"$root/store", s"$root/verdicts",
        s"$root/ckpt", planes = planes, minCosine = 0.4, portable = true,
        kindCol = Some("kind"))
      .awaitTermination()
    val verdicts = s.read.parquet(s"$root/verdicts")
      .select(lit("verdict").as("leg"), col("doc_id"), col("verdict"),
        col("dup_of"), round(col("best_cosine"), 6).as("best_cosine"),
        col("n_dups"), col("batch_id"))
    val live = BatchStore.readLive(s, s"$root/store", "id")(_.select("id"))
      .select(lit("store").as("leg"), col("id").as("doc_id"),
        lit(null).cast("string").as("verdict"),
        lit(null).cast("long").as("dup_of"),
        lit(null).cast("double").as("best_cosine"),
        lit(null).cast("long").as("n_dups"),
        lit(null).cast("long").as("batch_id"))
    verdicts.unionByName(live)
  }

  private val t30Sql = {
    val del1 = "(c.vec_id % 11 = 6 AND c.vec_id % 3 <> 2)"
    streamSemanticSqlFrom(
      s"OR (c.vec_id IN (SELECT vec_id FROM sadm0) AND NOT $del1)",
      "OR (c.vec_id IN (SELECT vec_id FROM sadm0 " +
        "UNION ALL SELECT vec_id FROM sadm1) AND c.vec_id % 11 <> 6)",
      liveWhere = "WHERE vec_id % 11 <> 6")
  }

  /** M8: streaming DECONTAMINATION at admission time — the batch
    * `m8_decontaminate` screen moved into the ingest loop. Docs with
    * `doc_id % 97 == 0` form the static held-out eval set (the batch
    * gate's convention); the remaining docs arrive as three waves
    * through [[graft.streaming.DecontaminateStream.screen]] (w = 5),
    * clean rows landing in the admitted sink and contaminated rows
    * PARKED with a V3-style provenance token. Output: one row per
    * arrival from the durable sinks — verdict, distinct-overlap count,
    * and the parked token. The verdict is batch-blind (static
    * benchmark), so the oracle is the BATCH screen over the union of
    * waves with `batch_id = doc_id % 3` — agreement proves the
    * streamed screen admits/parks exactly the batch operator's split,
    * wave boundaries notwithstanding. */
  private def streamDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val watch = writeOrderedBatches(
      docs.filter(col("doc_id") % 97 =!= 0), "doc_id", 3)
    val root = Dsl.tempDir("graft_m8decon_")
    val stream = fileStream(s, "doc_id LONG, text STRING", watch)
    graft.streaming.DecontaminateStream.screen(stream, bench,
      s"$root/admitted", s"$root/flagged", s"$root/ckpt", w = 5)
      .awaitTermination()
    val flagged = s.read.parquet(s"$root/flagged")
      .select(col("doc_id"), col("batch_id"), col("n_hits"),
        lit(true).as("contaminated"), col("source"))
    val admitted = s.read.parquet(s"$root/admitted")
      .select(col("doc_id"), col("batch_id"), lit(0L).as("n_hits"),
        lit(false).as("contaminated"), lit(null).cast("string").as("source"))
    flagged.unionByName(admitted)
  }

  private val streamDecontaminateSql =
    s"""WITH ${Dsl.shinglesCteW(5)},
       |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
       |hits AS (
       |  SELECT s.doc_id, COUNT(*) AS n_hits
       |  FROM sh s JOIN bench b USING (shingle)
       |  WHERE s.doc_id % 97 <> 0 GROUP BY 1)
       |SELECT d.doc_id, CAST(d.doc_id % 3 AS BIGINT) AS batch_id,
       |  COALESCE(h.n_hits, 0) AS n_hits,
       |  COALESCE(h.n_hits, 0) > 0 AS contaminated,
       |  CASE WHEN COALESCE(h.n_hits, 0) > 0
       |       THEN 'decontam:{n_hits=' || h.n_hits || ', w=5}' END AS source
       |FROM documents d LEFT JOIN hits h USING (doc_id)
       |WHERE d.doc_id % 97 <> 0""".stripMargin

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t11_late_split"      -> t11LateSplit _,
    "t12_view_maintain"   -> t12ViewMaintain _,
    "m8_stream_admission" -> streamAdmission _,
    "m8_store_compaction" -> storeCompaction _,
    "m8_stream_sample"    -> streamSample _,
    "m8_stream_clusters"  -> streamClusters _,
    "t13_index_maintain"  -> t13IndexMaintain _,
    "t14_postings_maintain" -> t14PostingsMaintain _,
    "t15_phrase_maintain" -> t15PhraseMaintain _,
    "t16_hybrid_serve" -> t16HybridServe _,
    "t17_store_delete" -> t17StoreDelete _,
    "t18_index_delete" -> t18IndexDelete _,
    "t19_quantizer_refresh" -> t19QuantizerRefresh _,
    "t20_proximity_maintain" -> t20ProximityMaintain _,
    "t21_analyzed_maintain" -> t21AnalyzedMaintain _,
    "t22_stream_delete" -> t22StreamDelete _,
    "t23_admission_delete" -> t23AdmissionDelete _,
    "t24_hybrid_refresh" -> t24HybridRefresh _,
    "t25_ledger_delete" -> t25LedgerDelete _,
    "t26_stream_sample_delete" -> t26StreamSampleDelete _,
    "t27_view_delete" -> t27ViewDelete _,
    "t28_policy_refresh" -> t28PolicyRefresh _,
    "t29_stream_view_delete" -> t29StreamViewDelete _,
    "t30_semantic_delete" -> t30SemanticDelete _,
    "m8_stream_semantic" -> streamSemantic _,
    "m8_stream_decontaminate" -> streamDecontaminate _,
    "m8_proximity_analyzed" -> m8ProximityAnalyzed _)

  def oracles: Map[String, String] = Map(
    "t11_late_split"      -> t11Sql,
    "t12_view_maintain"   -> t12Sql,
    "m8_stream_admission" -> streamAdmissionSql,
    "m8_store_compaction" -> storeCompactionSql,
    "m8_stream_sample"    -> streamSampleSql,
    "m8_stream_clusters"  -> streamClustersSql,
    "t13_index_maintain"  -> t13Sql,
    "t14_postings_maintain" -> t14Sql,
    "t15_phrase_maintain" -> t15Sql,
    "t16_hybrid_serve" -> t16Sql,
    "t17_store_delete" -> t17Sql,
    "t18_index_delete" -> t18Sql,
    "t19_quantizer_refresh" -> t19Sql,
    "t20_proximity_maintain" -> t20Sql,
    "t21_analyzed_maintain" -> t21Sql,
    "t22_stream_delete" -> t22Sql,
    "t23_admission_delete" -> t23Sql,
    "t24_hybrid_refresh" -> t24Sql,
    "t25_ledger_delete" -> t25Sql,
    "t26_stream_sample_delete" -> t26Sql,
    "t27_view_delete" -> t27Sql,
    "t28_policy_refresh" -> t28Sql,
    "t29_stream_view_delete" -> t29Sql,
    "t30_semantic_delete" -> t30Sql,
    "m8_stream_semantic" -> streamSemanticSql,
    "m8_stream_decontaminate" -> streamDecontaminateSql,
    "m8_proximity_analyzed" -> m8ProximityAnalyzedSql)
}
