package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Tables
import graft.ops.TextCorpus
import graft.ops.IncrementalAgg.Measure
import graft.similarity.Similarity
import graft.streaming.{AnnIndex, BatchStore, DedupStream, DeltaLedger,
  IndexStream, LateData, PostingsStream, SampleStream, ViewMaintenance}

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
  * earlier same-batch docs, exactly the `minhashIncremental` contract).
  *
  * Every gate body is a top-to-bottom sequence of calls into the shared
  * fixtures below (wave staging, the stores the gates build, the query
  * frame, the serve legs, the leak check) and every oracle is assembled
  * from the shared SQL replays further down; `gates` pairs each gate with
  * its oracle. */
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
    val staged = waves.zipWithIndex.map { case (df, i) =>
      Future(writeSingleFile(df, new java.io.File(watch, s"b$i.parquet"), base + i * 2000L))
    }
    staged.foreach(Await.result(_, Duration.Inf))
    watch
  }

  /** Write `df` as the one parquet file `dest`, modified at `mtime`: it is
    * written into a fresh stage dir, moved out, and the stage dir, which
    * then holds only the writer's markers, deleted. */
  private def writeSingleFile(df: DataFrame, dest: java.io.File, mtime: Long): Unit = {
    val stage = Dsl.tempDir("graft_stream_stage_")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, dest.toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
    dest.setLastModified(mtime)
  }

  /** The gates' ordered file source: the parquet files in `watch` as a
    * stream of `schema` rows, one file per micro-batch, oldest first
    * (the order [[stageWaves]] stamps). */
  private def fileStream(s: SparkSession, schema: String,
                         watch: String): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(watch)

  /** `df` staged as `k` single-file batches (slice i = rows with
    * `splitCol % k == i`, modification times 2 s apart) and streamed
    * back as `schema` rows, slice order oldest-first. */
  private def orderedStream(s: SparkSession, df: DataFrame, splitCol: String,
                            schema: String, k: Int = 3): DataFrame =
    fileStream(s, schema,
      stageWaves((0 until k).map(i => df.filter(col(splitCol) % k === i))))

  /** Three MIXED add/del waves of `df`, staged like [[orderedStream]]:
    * wave i adds the `adding` rows with `id % 3 = i`, and waves 1 and 2
    * also carry a `del` row for each row matching `del1` / `del2`. A
    * leading `kind` column says which; a del row keeps the id and types
    * every other column as null. Returns the watch dir. */
  private def mixedWaves(df: DataFrame, id: String, del1: Column,
                         del2: Column, adding: Column = lit(true)): String = {
    def wave(i: Int) = df.filter(adding && col(id) % 3 === i)
      .select(lit("add").as("kind") +: df.columns.toSeq.map(col): _*)
    def tombstones(cond: Column) = df.filter(cond)
      .select(lit("del").as("kind") +: df.schema.map { f =>
        if (f.name == id) col(id) else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    stageWaves(Seq(wave(0), wave(1).unionByName(tombstones(del1)),
      wave(2).unionByName(tombstones(del2))))
  }

  /** The text gates' query docs: every 251st document. */
  private val queryDocs = col("doc_id") % 251 === 7

  /** The gates' query frame: each `where` doc's id as `query_id` and
    * tokens `from` .. `from + len - 1` of its trimmed, whitespace-split
    * `text` as `query_text`. */
  private def queryText(s: SparkSession, dir: String, where: Column,
                        from: Int, len: Int,
                        text: Column = coalesce(col("text"), lit("")))
      : DataFrame =
    Tables.documents(s, dir).filter(where)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(text), "\\s+"), from, len), " ")
          .as("query_text"))

  /** One scored serve leg tagged `name`: (leg, query_id, rank, `id`,
    * score as double). */
  private def scoredLeg(name: String, df: DataFrame, score: Column,
                        id: Column = col("doc_id")): DataFrame =
    df.select(lit(name).as("leg"), col("query_id"), col("rank"), id,
      score.cast("double").as("score"))

  /** One slop-window serve leg tagged `name`. */
  private def windowsLeg(name: String, df: DataFrame): DataFrame =
    df.select(lit(name).as("leg"), col("query_id"), col("rank"),
      col("doc_id"), col("n_windows"))

  /** Require the compaction of `store` to have PHYSICALLY dropped the
    * rows matching `cond` from its new base generation (gen 2, the -2
    * batch dir): a store that only ever masks never shrinks. */
  private def requireDropped(s: SparkSession, store: String, cond: Column,
                             what: String): Unit = {
    val leaked = s.read.parquet(s"$store/graft_batch=-2").filter(cond).count()
    require(leaked == 0, s"compacted base of $store still holds $leaked $what")
  }

  /** The admission gates' drain: 8×4-band MinHash admission of
    * `stream` into `root`'s signature store and verdict sink, folding
    * the duplicate-group ledger at `root/labels` when `labels`. */
  private def admit(stream: DataFrame, root: String, labels: Boolean = false,
                    kindCol: Option[String] = None): StreamingQuery =
    DedupStream.admitDocuments(stream, s"$root/store", s"$root/verdicts",
      s"$root/ckpt", bands = 8, rowsPerBand = 4, minAgreement = 0.5,
      labelsDir = if (labels) Some(s"$root/labels") else None,
      kindCol = kindCol)

  private val verdictCols =
    Seq("doc_id", "verdict", "dup_of", "best_agreement", "n_dups", "batch_id")

  /** An admission gate's output: every verdict row (its agreement column
    * `score`, computed by `scoreCol`) plus the store's live
    * (tombstone-masked) id set as `store` rows with null verdict
    * columns. */
  private def verdictsAndStore(s: SparkSession, root: String, score: String,
                               scoreCol: Column): DataFrame = {
    val verdicts = s.read.parquet(s"$root/verdicts")
      .select(lit("verdict").as("leg"), col("doc_id"), col("verdict"),
        col("dup_of"), scoreCol.as(score), col("n_dups"), col("batch_id"))
    val live = BatchStore.readLive(s, s"$root/store", "id")(_.select("id"))
      .select(lit("store").as("leg"), col("id").as("doc_id"),
        lit(null).cast("string").as("verdict"),
        lit(null).cast("long").as("dup_of"),
        lit(null).cast("double").as(score),
        lit(null).cast("long").as("n_dups"),
        lit(null).cast("long").as("batch_id"))
    verdicts.unionByName(live)
  }

  /** The sample gates' drain: the k = 50 'ssam' priority sample of
    * `stream` weighted by n_chars, kept at `root/state`. */
  private def sampleDrain(stream: DataFrame, root: String,
                          kindCol: Option[String] = None): StreamingQuery =
    SampleStream.maintainSample(stream, s"$root/state", s"$root/ckpt",
      k = 50, salt = "ssam", idCol = "doc_id", weightCol = "n_chars",
      kindCol = kindCol)

  /** [[sampleDrain]]'s sample as (doc_id, weight). The state carries
    * weight as double (the exact cast Sampling.weightedSample applies,
    * so fractional weights survive the fold); n_chars is integral, so
    * the cast back is lossless. */
  private def readSample(s: SparkSession, root: String): DataFrame =
    ViewMaintenance.readLatest(s, s"$root/state").get
      .select(col("sample_id").as("doc_id"),
        col("weight").cast("long").as("weight"))

  /** The view gates' events and measures, keyed by event_type. */
  private def viewEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select("event_id", "user_id", "event_type")

  private val viewMeasures = Seq(
    Measure("n", "count", lit(1)),
    Measure("sum_uid", "sum", col("user_id")),
    Measure("min_id", "min", col("event_id")),
    Measure("max_id", "max", col("event_id")))

  /** The view gates' published view: the latest snapshot's measures. */
  private def readView(s: SparkSession, root: String): DataFrame =
    ViewMaintenance.readLatest(s, s"$root/state").get
      .select("event_type", "n", "sum_uid", "min_id", "max_id")

  /** Drain `docs` (doc_id, text), staged as three doc_id waves, into the
    * postings store at `index`. Returns the running drain. */
  private def postingsDrain(s: SparkSession, docs: DataFrame, index: String,
                            positions: Boolean = false,
                            analyzer: Option[TextCorpus.Analyzer] = None)
      : StreamingQuery =
    PostingsStream.maintainPostings(
      orderedStream(s, docs, "doc_id", "doc_id BIGINT, text STRING"),
      index, Dsl.tempDir("graft_postings_ckpt_"), positions = positions,
      analyzer = analyzer)

  /** A postings store [[postingsDrain]]ed from `docs`, then folded down
    * to one kept batch (the fold re-sums the df partials). Returns the
    * index dir. */
  private def foldedPostings(s: SparkSession, docs: DataFrame,
                             positions: Boolean = false,
                             analyzer: Option[TextCorpus.Analyzer] = None)
      : String = {
    val index = Dsl.tempDir("graft_postings_") + "/index"
    postingsDrain(s, docs, index, positions, analyzer).awaitTermination()
    PostingsStream.compactIndex(s, index, keepBatches = 1)
    index
  }

  /** The analyzer of the analyzed positional stores. */
  private val stopAnalyzer = Some(TextCorpus.Analyzer(lowercase = true,
    stripPunct = true, stopwords = Seq("the", "a")))

  /** The postings deletion gates' legs over `index` once its deletes
    * (every doc_id % 7 = 3) have landed: BM25 before compaction —
    * materialized NOW, because the fold rewrites the store state this
    * plan reads and lazy evaluation would otherwise time-travel it to
    * the post-fold layout — then the fold, which must physically drop
    * the deleted docs' rows, then BM25 and phrase after it. */
  private def deletedPostingsLegs(s: SparkSession, dir: String, index: String,
                                  id: Column): DataFrame = {
    def bm25(leg: String) = scoredLeg(leg, PostingsStream.bm25Serve(s, index,
      queryText(s, dir, queryDocs, 1, 4), 10), col("score"), id)
    val pre = bm25("bm25_pre").localCheckpoint(true)
    PostingsStream.compactIndex(s, index, keepBatches = 1)
    requireDropped(s, index, col("doc_id") % 7 === 3, "rows of deleted docs")
    pre.unionByName(bm25("bm25_post")).unionByName(scoredLeg("phrase_post",
      PostingsStream.phraseServe(s, index, queryText(s, dir, queryDocs, 2, 3),
        10), col("n_occ"), id))
  }

  /** The fixed-quantizer ANN store (T13's shape) under `root`: the
    * standing corpus (vec_id % 5 ≠ 4) trains the quantizer at
    * `root/centroids` and writes its lists as the manual base
    * `root/lists/graft_batch=-1`; the delta (vec_id % 5 = 4) then
    * drains through [[IndexStream.maintainIndex]] in three vec_id waves,
    * each encoded against the FIXED stored centroids — as mixed add/del
    * waves carrying `dels` as wave 1's and wave 2's tombstones when
    * given. Returns the running drain. */
  private def annStore(s: SparkSession, emb: DataFrame, root: String,
                       dels: Option[(Column, Column)] = None): StreamingQuery = {
    val (cent, lists) = Similarity.ivfBuildQuantized(
      Tables.spread(emb.filter(col("vec_id") % 5 =!= 4)), nlist = 16,
      lloydIters = 2)
    cent.write.mode("overwrite").parquet(root + "/centroids")
    lists.write.mode("overwrite").parquet(root + "/lists/graft_batch=-1")
    val vecs = emb.select("vec_id", "embedding")
    val delta = col("vec_id") % 5 === 4
    val stream = dels match {
      case None => orderedStream(s, vecs.filter(delta), "vec_id",
        "vec_id BIGINT, embedding ARRAY<FLOAT>")
      case Some((del1, del2)) =>
        fileStream(s, "kind STRING, vec_id BIGINT, embedding ARRAY<FLOAT>",
          mixedWaves(vecs, "vec_id", del1, del2, adding = delta))
    }
    IndexStream.maintainIndex(stream, root + "/centroids", root + "/lists",
      Dsl.tempDir("graft_ann_ckpt_"), kindCol = dels.map(_ => "kind"))
  }

  /** The gates' serve off an [[annStore]]: the first 8 vectors' top 5
    * (nprobe 4, rescore 15). The lists store is read through BatchStore:
    * the manual -1 base and every live batch dir — and after a compaction
    * the folded generation — resolve through the same pointer-filtered,
    * tombstone-masked read. */
  private def annServe(s: SparkSession, emb: DataFrame, root: String)
      : DataFrame =
    Similarity.ivfServeQuantized(emb.filter(col("vec_id") < 8),
      s.read.parquet(root + "/centroids"),
      IndexStream.readLists(s, root + "/lists"),
      emb, 5, nprobe = 4, rescoreK = 15)

  /** The hybrid gates' fusion: BM25 from `postings` for the first 8
    * docs' tokens 1-4 and the `dense` leg, each top 5, fused with
    * reciprocal-rank fusion ([[rrfSql]] replays it). */
  private def rrfServe(s: SparkSession, dir: String, postings: String,
                       dense: DataFrame): DataFrame = {
    val sparse = PostingsStream.bm25Serve(s, postings,
        queryText(s, dir, col("doc_id") < 8, 1, 4), 5)
      .withColumnRenamed("doc_id", "cand_id")
    Similarity.rrfFuse(
      Seq(sparse, dense.select("query_id", "cand_id", "rank")), 5)
  }

  /** T11: late-data accounting. Three event batches stream through
    * [[LateData.splitLate]] (delay 3600 s); each batch's rows land in the
    * main or late sink versus the high-water mark advanced by PRIOR
    * batches. Output: per (batch, sink) counts, id sums and total
    * observed lateness, read back from the durable sinks. */
  private def t11LateSplit(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select("event_id", "ts", "user_id")
    val root = Dsl.tempDir("graft_t11_")
    val (mainDir, lateDir) = (s"$root/main", s"$root/late")
    val stream = orderedStream(s, ev, "event_id",
      "event_id BIGINT, ts TIMESTAMP, user_id BIGINT")
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
    val root = Dsl.tempDir("graft_t12_")
    val stream = orderedStream(s, viewEvents(s, dir), "event_id",
      "event_id BIGINT, user_id BIGINT, event_type STRING")
    ViewMaintenance.maintain(stream, s"$root/state", s"$root/ckpt",
      keys = Seq("event_type"), measures = viewMeasures).awaitTermination()
    readView(s, root)
  }

  private val t12Sql = viewSql("events")

  /** M8: streaming corpus admission. Three document batches stream
    * through [[DedupStream.admitDocuments]] (MinHash, 8×4
    * bands): each batch screens against the signature store that prior
    * batches' ADMITTED docs extended, plus earlier docs of its own batch.
    * Output: every verdict row from the durable sink. */
  private def streamAdmission(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val root = Dsl.tempDir("graft_m8adm_")
    admit(orderedStream(s, docs, "doc_id", "doc_id LONG, text STRING"), root)
      .awaitTermination()
    s.read.parquet(s"$root/verdicts").select(verdictCols.map(col): _*)
  }

  /** The minhash CTE chain is DedupQueries' replica (md5 hex
    * digits → h1/h2 → 32 affine min-hashes → 8 band keys); shared via
    * [[DedupQueries.minhashOracleCtes]]. */
  private val streamAdmissionSql =
    s"""WITH ${DedupQueries.minhashOracleCtes},
       |${stagesSql(3)}
       |${verdictsSql(3)}""".stripMargin

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
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val streamed = docs.filter(col("doc_id") % 4 =!= 3)
      .withColumn("slice", col("doc_id") % 4)
    val root = Dsl.tempDir("graft_m8cmp_")
    admit(orderedStream(s, streamed, "slice", "doc_id LONG, text STRING"),
      root).awaitTermination()
    val report = BatchStore.compact(s, s"$root/store", keepBatches = 1)
    require(report.gen == 2L && report.foldedThrough == 1L &&
      report.foldedBatches == Seq(0L, 1L),
      s"compaction did not fold batches 0-1 into gen 2: $report")
    val live = new java.io.File(s"$root/store").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("graft_batch="))
    require(live == 2, s"expected base + 1 kept batch dir, found $live dirs")
    val delta = Dedup.minhashSignatures(docs.filter(col("doc_id") % 4 === 3),
      col("doc_id"), col("text"), numHashes = 32)
    val wave4 = Dedup.minhashIncremental(
        BatchStore.read(s, s"$root/store").select("id", "sig"), delta,
        bands = 8, rowsPerBand = 4, minAgreement = 0.5)
      .withColumn("batch_id", lit(3L))
    s.read.parquet(s"$root/verdicts").select(verdictCols.map(col): _*)
      .unionByName(wave4.select(verdictCols.map(col): _*))
  }

  private val storeCompactionSql =
    s"""WITH ${DedupQueries.minhashOracleCtes},
       |${stagesSql(4, mod = 4)}
       |${verdictsSql(4)}""".stripMargin

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
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val root = Dsl.tempDir("graft_m8slbl_")
    admit(orderedStream(s, docs, "doc_id", "doc_id LONG, text STRING"), root,
      labels = true).awaitTermination()
    // delta-published ledger: the latest-wins read IS the snapshot
    DeltaLedger.read(s, s"$root/labels").select("doc_id", "cluster_id")
  }

  private val streamClustersSql =
    s"""WITH RECURSIVE ${DedupQueries.minhashOracleCtes},
       |${stagesSql(3)},
       |${closureSql(3)}
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
    val docs = Tables.documents(s, dir).select("doc_id", "n_chars")
    val root = Dsl.tempDir("graft_m8ssam_")
    sampleDrain(orderedStream(s, docs, "doc_id", "doc_id LONG, n_chars LONG"),
      root).awaitTermination()
    readSample(s, root)
  }

  private val streamSampleSql =
    s"""SELECT doc_id, CAST(n_chars AS BIGINT) AS weight FROM documents
       |WHERE doc_id IN (${sampleSql("TRUE")})""".stripMargin

  /** T13: incremental ANN-index maintenance. The standing corpus
    * (vec_id % 5 ≠ 4) trains the quantizer and writes the stored index;
    * the delta (vec_id % 5 = 4) arrives as three ordered micro-batches
    * through [[IndexStream.maintainIndex]], each encoded against the
    * FIXED stored centroids and appended per-batch. Serving from the
    * end-state store must equal a batch build whose quantizer trained
    * on the standing corpus — assignment is per-vector against fixed
    * centroids, so the oracle replays exactly that. */
  private def t13IndexMaintain(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val root = Dsl.tempDir("graft_t13_")
    annStore(s, emb, root).awaitTermination()
    annServe(s, emb, root).select(col("query_id"), col("rank"),
      col("cand_id"), round(col("cosine"), 6).as("cosine"))
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
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    PostingsStream.bm25Serve(s, foldedPostings(s, docs),
      queryText(s, dir, queryDocs, 1, 4), k = 10)
  }

  private val t14Sql =
    TextQueries.bm25SqlFrom(TextQueries.bm25SearchQueryCte)

  /** T15: the POSITIONAL postings store. Same drain/fold shape as T14
    * but maintained with `positions = true`, then phrase-served with
    * the `m8_phrase_search` recipe — the oracle is that query's batch
    * SQL replay untouched, certifying that per-occurrence positions
    * survive batching, replay semantics, and the df-merging fold. */
  private def t15PhraseMaintain(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    PostingsStream.phraseServe(s, foldedPostings(s, docs, positions = true),
      queryText(s, dir, queryDocs, 2, 3), k = 10)
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
    val root = Dsl.tempDir("graft_t16_")
    // The two legs build DISJOINT stores from disjoint sources, so
    // their drains run CONCURRENTLY (guide §2.6 — each drain is ~40%
    // driver-gap at micro-batch pacing, which the other leg's tasks
    // back-fill): start the sparse drain first, build + drain the
    // dense leg while it runs, await both before the serves.
    val sparseDrain = postingsDrain(s,
      Tables.documents(s, dir).select("doc_id", "text"), root + "/postings")
    val emb = Tables.embeddings(s, dir)
    annStore(s, emb, root).awaitTermination()
    sparseDrain.awaitTermination()
    rrfServe(s, dir, root + "/postings", annServe(s, emb, root))
  }

  private val t16Sql = rrfSql(t13Sql)

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
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val index = Dsl.tempDir("graft_t17_") + "/index"
    postingsDrain(s, docs, index, positions = true).awaitTermination()
    PostingsStream.deleteDocs(s, index,
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"))
    val legs = deletedPostingsLegs(s, dir, index, col("doc_id"))
    require(BatchStore.hasDeletes(s, index),
      "tombstone set must survive compaction (the standing takedown ledger)")
    legs
  }

  private val t17Sql = deletedPostingsSql("doc_id")

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
    val emb = Tables.embeddings(s, dir)
    val root = Dsl.tempDir("graft_t18_")
    annStore(s, emb, root).awaitTermination()
    IndexStream.deleteVectors(s, root + "/lists",
      emb.filter(col("vec_id") % 9 === 2).select("vec_id"))
    def serve(leg: String) = annServe(s, emb, root)
      .select(lit(leg).as("leg"), col("query_id"), col("rank"),
        col("cand_id"), round(col("cosine"), 6).as("cosine"))
    val pre = serve("pre").localCheckpoint(true)
    IndexStream.compactLists(s, root + "/lists", keepBatches = 1)
    requireDropped(s, root + "/lists", col("cand_id") % 9 === 2,
      "deleted vectors")
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
    val k = 5
    val corpus = Tables.spread(plantedDrift(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val root = Dsl.tempDir("graft_t19_")
    AnnIndex.init(s, root, corpus.filter(col("vec_id") % 5 =!= 4),
      nlist = 16, lloydIters = 2)
    val stream = orderedStream(s, corpus.filter(col("vec_id") % 5 === 4),
      "vec_id", "vec_id BIGINT, embedding ARRAY<FLOAT>")
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
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val index = foldedPostings(s, docs, positions = true)
    val queries = queryText(s, dir, queryDocs, 2, 3)
    windowsLeg("proximity",
        PostingsStream.proximityServe(s, index, queries, k = 10, slop = 2))
      .unionByName(windowsLeg("near",
        PostingsStream.nearServe(s, index, queries, k = 10, slop = 2)))
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
    val mutated = expr(TextQueries.mutateSqlExpr)
    val index = foldedPostings(s,
      Tables.documents(s, dir).select(col("doc_id"), mutated.as("text")),
      positions = true, analyzer = stopAnalyzer)
    scoredLeg("bm25", PostingsStream.bm25Serve(s, index,
        queryText(s, dir, queryDocs, 1, 4, mutated), 10), col("score"))
      .unionByName(scoredLeg("phrase", PostingsStream.phraseServe(s, index,
        queryText(s, dir, queryDocs, 2, 3, mutated), 10), col("n_occ")))
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
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val dDel = col("doc_id") % 7 === 3
    val root = Dsl.tempDir("graft_t22_")
    // the postings and ANN-lists stores are disjoint: drain both
    // CONCURRENTLY (guide §2.6) and do each leg's admin/serve steps
    // after ITS drain lands
    val postingsDrain = PostingsStream.maintainPostings(
      fileStream(s, "kind STRING, doc_id BIGINT, text STRING",
        mixedWaves(docs, "doc_id", dDel && col("doc_id") % 3 =!= 2,
          dDel && col("doc_id") % 3 === 2)),
      root + "/index", root + "/ckpt", positions = true,
      kindCol = Some("kind"))
    // ANN leg: del rows (vec_id only, NULL embedding) tombstone every
    // 9th vector. vec_id % 9 = 2 forces vec_id ≡ 2 (mod 3), so the
    // delete set is split across waves by PARITY instead — both
    // cross-batch and same-batch add+del pairs occur
    val emb = Tables.embeddings(s, dir)
    val vDel = col("vec_id") % 9 === 2
    val annDrain = annStore(s, emb, root,
      Some((vDel && col("vec_id") % 2 === 0, vDel && col("vec_id") % 2 === 1)))
    postingsDrain.awaitTermination()
    val postings = deletedPostingsLegs(s, dir, root + "/index",
      col("doc_id").as("cand_id"))
    annDrain.awaitTermination()
    postings.unionByName(scoredLeg("ann", annServe(s, emb, root),
      round(col("cosine"), 6), col("cand_id")))
  }

  private val t22Sql = {
    val ann = SimilarityQueries.ivfQServeSql(Some("vec_id % 5 <> 4"),
      Some("vec_id % 9 <> 2"))
    s"""${deletedPostingsSql("cand_id")}
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
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val d = col("doc_id") % 11 === 6
    val root = Dsl.tempDir("graft_t23_")
    val stream = fileStream(s, "kind STRING, doc_id LONG, text STRING",
      mixedWaves(docs, "doc_id", d && col("doc_id") % 3 =!= 2,
        d && col("doc_id") % 3 === 2))
    admit(stream, root, kindCol = Some("kind")).awaitTermination()
    verdictsAndStore(s, root, "best_agreement", col("best_agreement"))
  }

  private val t23Sql = {
    // wave 1's dels: the D docs of slices 0-1 — they mask wave 1's OWN
    // prior-corpus screen (the pre-mask semantics) and every later one;
    // by wave 2 the cumulative delete set is all of doc_id % 11 = 6
    val deleted = (i: Int) =>
      if (i == 1) "c.doc_id % 11 = 6 AND c.doc_id % 3 <> 2"
      else "c.doc_id % 11 = 6"
    s"""WITH ${DedupQueries.minhashOracleCtes},
       |${stagesSql(3, deleted = deleted)}
       |${verdictsAndStoreSql("best_agreement", verdictsSql(3),
            s"SELECT doc_id FROM (${admittedSql(3)}) WHERE doc_id % 11 <> 6")}
       |""".stripMargin
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
    val root = Dsl.tempDir("graft_t24_")
    // the sparse postings store is disjoint from the ANN lifecycle:
    // start its drain FIRST so the whole init→drain→refresh dense leg
    // overlaps it (guide §2.6)
    val sparseDrain = postingsDrain(s,
      Tables.documents(s, dir).select("doc_id", "text"), root + "/postings")
    val corpus = Tables.spread(plantedDrift(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    AnnIndex.init(s, root + "/ann", corpus.filter(col("vec_id") % 5 =!= 4),
      nlist = 16, lloydIters = 2)
    val vstream = orderedStream(s, corpus.filter(col("vec_id") % 5 === 4),
      "vec_id", "vec_id BIGINT, embedding ARRAY<FLOAT>")
    AnnIndex.maintain(vstream, root + "/ann", Dsl.tempDir("graft_t24_ckpt_"))
      .awaitTermination()
    val v2 = AnnIndex.refresh(s, root + "/ann", corpus,
      nlist = 16, lloydIters = 2)
    require(v2 == 2L, s"refresh must publish version 2, got $v2")
    val dense = AnnIndex.serve(s, root + "/ann",
      corpus.filter(col("vec_id") < 8), corpus, 5, nprobe = 4)
    sparseDrain.awaitTermination()
    val fused = rrfServe(s, dir, root + "/postings", dense)
    corpus.unpersist()
    fused
  }

  // the refresh identity: the post-swap index IS a from-scratch
  // quantized build over the full planted (drifted) corpus
  private val t24Sql = rrfSql(SimilarityQueries.ivfQServeSql(None, None,
    plantedDriftSql, "q.vec_id < 8", nprobe = 4))

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
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val arr = split(trim(coalesce(col("text"), lit(""))), "\\s+")
    val mutated = docs.select(col("doc_id"),
      array_join(concat(slice(arr, 1, 2), array(lit("the"), lit("a")),
        slice(arr, lit(3), greatest(size(arr) - 2, lit(0)))), " ")
        .as("text"))
    val index = foldedPostings(s, mutated, positions = true,
      analyzer = stopAnalyzer)
    val queries = queryText(s, dir, queryDocs, 2, 2)
    // ONE positional-store scan shared by all four serve legs: read +
    // tombstone-mask once and materialize it EAGERLY — four
    // concurrently-scheduled union branches would otherwise each
    // re-scan — as a local checkpoint, which (unlike a persist) leaves
    // no cache entry behind the query
    val pos = PostingsStream.readPositional(s, index).localCheckpoint()
    val analyzer = PostingsStream.storeAnalyzer(s, index)
    windowsLeg("prox_s1", TextCorpus.proximityMatchTopK(pos, queries, 10, 1,
        analyzer = analyzer))
      .unionByName(windowsLeg("prox_s2", TextCorpus.proximityMatchTopK(pos,
        queries, 10, 2, analyzer = analyzer)))
      .unionByName(windowsLeg("near_s1", TextCorpus.nearMatchTopK(pos,
        queries, 10, 1, analyzer = analyzer)))
      .unionByName(windowsLeg("near_s2", TextCorpus.nearMatchTopK(pos,
        queries, 10, 2, analyzer = analyzer)))
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
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val root = Dsl.tempDir("graft_t25_")
    // the ledger and sample stores are disjoint: drain both
    // CONCURRENTLY (guide §2.6), then run each store's takedown after
    // ITS drain lands
    val admitDrain = admit(orderedStream(s, docs, "doc_id",
      "doc_id LONG, text STRING", k = 2), root, labels = true)
    val sdocs = Tables.documents(s, dir).select("doc_id", "n_chars")
    val sampled = sampleDrain(orderedStream(s, sdocs, "doc_id",
      "doc_id LONG, n_chars LONG", k = 2), s"$root/sample")
    admitDrain.awaitTermination()
    val dels = docs.filter(col("doc_id") % 11 === 5).select("doc_id")
    DeltaLedger.delete(s, s"$root/labels", dels)
    DeltaLedger.compact(s, s"$root/labels", keepBatches = 1)
    requireDropped(s, s"$root/labels", col("doc_id") % 11 === 5,
      "deleted label rows")
    val ledger = DeltaLedger.read(s, s"$root/labels")
      .select(lit("ledger").as("leg"), col("doc_id"),
        col("cluster_id").as("val"))
    sampled.awaitTermination()
    SampleStream.deleteFromSample(s, s"$root/sample/state", dels)
    val sample = readSample(s, s"$root/sample")
      .select(lit("sample").as("leg"), col("doc_id"), col("weight").as("val"))
    ledger.unionByName(sample)
  }

  private val t25Sql =
    s"""WITH RECURSIVE ${DedupQueries.minhashOracleCtes},
       |${stagesSql(2, mod = 2)},
       |${closureSql(2)}
       |SELECT 'ledger' AS leg, d.doc_id,
       |  COALESCE(c.cluster_id, d.doc_id) AS val
       |FROM documents d LEFT JOIN ccl c USING (doc_id)
       |WHERE d.doc_id % 11 <> 5
       |UNION ALL
       |SELECT 'sample' AS leg, doc_id, CAST(n_chars AS BIGINT) AS val
       |FROM documents
       |WHERE doc_id IN (${sampleSql("TRUE")}) AND doc_id % 11 <> 5""".stripMargin

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
    val docs = Tables.documents(s, dir).select("doc_id", "n_chars")
    val d = col("doc_id") % 13 === 4
    val root = Dsl.tempDir("graft_t26_")
    val stream = fileStream(s, "kind STRING, doc_id LONG, n_chars LONG",
      mixedWaves(docs, "doc_id", d && col("doc_id") % 3 =!= 2,
        d && col("doc_id") % 3 === 2))
    sampleDrain(stream, root, kindCol = Some("kind")).awaitTermination()
    readSample(s, root)
  }

  private val t26Sql =
    s"""WITH t0 AS (${sampleSql("doc_id % 3 = 0")}),
       |u1 AS (SELECT doc_id FROM t0
       |       UNION ALL SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
       |t1 AS (${sampleSql("doc_id IN (SELECT doc_id FROM u1)")}),
       |t1s AS (SELECT doc_id FROM t1
       |        WHERE NOT (doc_id % 13 = 4 AND doc_id % 3 <> 2)),
       |u2 AS (SELECT doc_id FROM t1s
       |       UNION ALL SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
       |t2 AS (${sampleSql("doc_id IN (SELECT doc_id FROM u2)")})
       |SELECT doc_id, CAST(n_chars AS BIGINT) AS weight
       |FROM documents
       |WHERE doc_id IN (SELECT doc_id FROM t2)
       |  AND NOT (doc_id % 13 = 4 AND doc_id % 3 = 2)""".stripMargin

  /** Append one more single-file wave to an existing watch dir, mtime
    * stamped NOW — strictly after anything [[stageWaves]] stamped (its
    * base rides an hour in the past), so a second drain over the same
    * checkpoint picks it up as the next batch. */
  private def appendWave(watch: String, df: DataFrame, name: String): Unit =
    writeSingleFile(df, new java.io.File(watch, name), System.currentTimeMillis())

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
    val ev = viewEvents(s, dir)
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
        keys = Seq("event_type"), measures = viewMeasures).awaitTermination()
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
      Seq("event_type"), viewMeasures, dels, survivors)
    // mid-lifecycle: wave 2 folds onto the post-delete state through
    // the SAME checkpoint
    appendWave(watch, ev.filter(col("event_id") % 3 === 2), "b2.parquet")
    drain()
    readView(s, root)
  }

  private val t27Sql =
    s"""WITH w01 AS (
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
       |${viewSql("surv")}""".stripMargin

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
    val ev = viewEvents(s, dir)
    val dMain = col("event_id") % 13 === 2 || col("event_id") < 3
    val watch = mixedWaves(ev, "event_id", dMain && col("event_id") % 3 =!= 1,
      (dMain && col("event_id") % 3 === 1) ||
        (col("event_id") % 13 === 7 && col("event_id") % 3 === 2))
    val root = Dsl.tempDir("graft_t29_")
    val stream = fileStream(s,
      "kind STRING, event_id BIGINT, user_id BIGINT, event_type STRING", watch)
    // compactIdsOver = 1: the third wave folds the first two ledger
    // dirs into a base generation BEFORE its own takedowns run — the
    // gate's hash certifies that ledger compaction cannot change a
    // retraction's answer (union is order-free, the survivor join is
    // set-semantics)
    ViewMaintenance.maintain(stream, s"$root/state", s"$root/ckpt",
        keys = Seq("event_type"), measures = viewMeasures,
        kindCol = Some("kind"), idCol = "event_id", corpus = Some(ev),
        compactIdsOver = Some(1))
      .awaitTermination()
    readView(s, root)
  }

  private val t29Sql = viewSql(
    """events
      |WHERE NOT (event_id % 13 = 2 OR event_id < 3
      |           OR (event_id % 13 = 7 AND event_id % 3 = 2))""".stripMargin)

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
    val corpus = Tables.spread(clusteredCorpus(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val root = Dsl.tempDir("graft_t28_")
    AnnIndex.init(s, root, corpus.filter(col("vec_id") % 5 =!= 4),
      nlist = 16, lloydIters = 2)
    val stream = orderedStream(s, corpus.filter(col("vec_id") % 5 === 4),
      "vec_id", "vec_id BIGINT, embedding ARRAY<FLOAT>")
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
    * screen (md5-derived planes, corpus-SIZED count — the oracle replays
    * the [[graft.dedup.Dedup.choosePlanes]] derivation, the
    * `m8_dedup_embedding` contract), the batch-mode `m8_semantic_dedup`
    * composition run as an ingest loop. Output: every verdict row plus
    * the store's live id set; the oracle unrolls the three stages —
    * each screens against prior stages' ADMITTED vectors plus earlier
    * same-batch vectors — exactly the [[graft.dedup.Dedup
    * .embeddingIncremental]] contract. */
  private def streamSemantic(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val planes = graft.dedup.Dedup.choosePlanes(math.max(1L, emb.count()))
    val root = Dsl.tempDir("graft_m8ssem_")
    val stream = orderedStream(s,
      emb.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id",
      "doc_id BIGINT, embedding ARRAY<FLOAT>")
    DedupStream.admitVectors(stream, s"$root/store", s"$root/verdicts",
        s"$root/ckpt", planes = planes, minCosine = 0.4)
      .awaitTermination()
    verdictsAndStore(s, root, "best_cosine", round(col("best_cosine"), 6))
  }

  /** The three-stage semantic-admission replay: stage i screens against
    * earlier same-batch vectors and the vectors prior stages admitted,
    * less `deleted(i)` (where the streamed-tombstone variant injects its
    * cumulative delete exclusions — the pre-mask timing); the live set
    * is everything admitted, filtered by `liveWhere`. */
  private def streamSemanticSqlFrom(deleted: Int => String = _ => "",
                                    liveWhere: String = ""): String = {
    def cos(a: String, b: String) =
      s"""list_inner_product($a, $b) /
         |      (sqrt(list_inner_product($a, $a)) *
         |       sqrt(list_inner_product($b, $b)))""".stripMargin
    def stage(i: Int) =
      s"""sc$i AS (
         |  SELECT DISTINCT n.vec_id AS new_id, c.vec_id AS cand_id
         |  FROM sb n JOIN sb c ON n.bucket = c.bucket
         |  WHERE n.vec_id % 3 = $i AND (
         |        (c.vec_id % 3 = $i AND c.vec_id < n.vec_id)
         |        ${priorSql(i, "vec_id", "sadm", deleted(i))})),
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
       |${(0 until 3).map(stage).mkString(",\n")}
       |${verdictsAndStoreSql("best_cosine",
            (0 until 3).map(i => s"SELECT * FROM sv$i").mkString(" UNION ALL "),
            s"SELECT vec_id AS doc_id FROM (${admittedSql(3, "vec_id", "sadm")}) $liveWhere")}
       |""".stripMargin
  }

  private val streamSemanticSql = streamSemanticSqlFrom()

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
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val planes = graft.dedup.Dedup.choosePlanes(math.max(1L, emb.count()))
    val d = col("doc_id") % 11 === 6
    val root = Dsl.tempDir("graft_t30_")
    val stream = fileStream(s,
      "kind STRING, doc_id BIGINT, embedding ARRAY<FLOAT>",
      mixedWaves(emb.select(col("vec_id").as("doc_id"), col("embedding")),
        "doc_id", d && col("doc_id") % 3 =!= 2, d && col("doc_id") % 3 === 2))
    DedupStream.admitVectors(stream, s"$root/store", s"$root/verdicts",
        s"$root/ckpt", planes = planes, minCosine = 0.4,
        kindCol = Some("kind"))
      .awaitTermination()
    verdictsAndStore(s, root, "best_cosine", round(col("best_cosine"), 6))
  }

  private val t30Sql = streamSemanticSqlFrom(
    i => if (i == 1) "c.vec_id % 11 = 6 AND c.vec_id % 3 <> 2"
         else "c.vec_id % 11 = 6",
    liveWhere = "WHERE vec_id % 11 <> 6")

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
    val root = Dsl.tempDir("graft_m8decon_")
    val stream = orderedStream(s, docs.filter(col("doc_id") % 97 =!= 0),
      "doc_id", "doc_id LONG, text STRING")
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

  // ------------------------------------------------------------------
  // The shared oracle replays (defs, so the gate oracles above can use
  // them whatever their order in the file).

  /** One admission stage of the oracle: candidates for batch `i` docs are
    * earlier same-batch docs (any verdict — they're all in the delta) or
    * the `admitted` prior-batch docs; agreement over the 32
    * MinHash slots; hits at ≥ 0.5 reduce to (dup_of = min, best, count).
    * `mod` is the batch-slicing modulus. */
  private def stageSql(i: Int, admitted: String, mod: Int): String =
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

  /** `SELECT id FROM adm0 UNION ALL …` over stages 0 .. n-1: the ids the
    * first n stages admitted. */
  private def admittedSql(n: Int, id: String = "doc_id",
                          adm: String = "adm"): String =
    (0 until n).map(i => s"SELECT $id FROM $adm$i").mkString(" UNION ALL ")

  /** Stage i's prior-corpus candidate clause: `c.<id>` among the ids the
    * stages before it admitted, less the `deleted` ones (a predicate on
    * `c.<id>`; empty for none). Empty for stage 0. */
  private def priorSql(i: Int, id: String, adm: String,
                       deleted: String): String = {
    val prior = s"c.$id IN (${admittedSql(i, id, adm)})"
    if (i == 0) ""
    else if (deleted.isEmpty) s"OR $prior"
    else s"OR ($prior AND NOT ($deleted))"
  }

  /** The unrolled n-stage MinHash admission replay (batch modulus `mod`):
    * the [[stageSql]] chain, stage i screening against what earlier
    * stages admitted less `deleted(i)` — the deletes visible to it. */
  private def stagesSql(n: Int, mod: Int = 3,
                        deleted: Int => String = _ => ""): String =
    (0 until n).map(i =>
      stageSql(i, priorSql(i, "doc_id", "adm", deleted(i)), mod))
      .mkString(",\n")

  /** Every verdict row of the first n stages. */
  private def verdictsSql(n: Int): String =
    (0 until n).map(i => s"SELECT * FROM v$i").mkString(" UNION ALL ")

  /** [[verdictsAndStore]]'s replay: the `verdicts` rows, then the `live`
    * doc ids as `store` rows with null verdict columns. */
  private def verdictsAndStoreSql(score: String, verdicts: String,
                                  live: String): String =
    s"""SELECT 'verdict' AS leg, doc_id, verdict, dup_of, $score, n_dups,
       |  batch_id
       |FROM ($verdicts)
       |UNION ALL
       |SELECT 'store' AS leg, doc_id, CAST(NULL AS VARCHAR) AS verdict,
       |  CAST(NULL AS BIGINT) AS dup_of, CAST(NULL AS DOUBLE) AS $score,
       |  CAST(NULL AS BIGINT) AS n_dups, CAST(NULL AS BIGINT) AS batch_id
       |FROM ($live)""".stripMargin

  /** The recursive closure over the first n stages' verdict edges
    * (rejected doc → dup_of): `ccl(doc_id, cluster_id)` labels each
    * linked doc with its component's smallest id. Needs `WITH
    * RECURSIVE`. */
  private def closureSql(n: Int): String =
    s"""ed0 AS (
       |  ${(0 until n).map(i => s"SELECT new_id AS u, dup_of AS v FROM h$i")
            .mkString(" UNION ALL ")}),
       |e AS (SELECT u, v FROM ed0 UNION ALL SELECT v, u FROM ed0),
       |reach AS (
       |  SELECT u, v FROM e
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
       |ccl AS (
       |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
       |  FROM reach GROUP BY u)""".stripMargin

  /** The k = 50 'ssam' priority sample of the documents matching `where`
    * (priority = hash coordinate / n_chars, ties on doc_id): their
    * doc_ids. */
  private def sampleSql(where: String): String =
    s"""SELECT doc_id FROM (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY
       |    CAST(${Dsl.hex60Sql("'ssam|' || doc_id::VARCHAR")} AS DOUBLE)
       |      / CAST(n_chars AS DOUBLE) ASC, doc_id) AS rn
       |  FROM documents WHERE $where) WHERE rn <= 50""".stripMargin

  /** The flat replay of [[viewMeasures]] over the events in `from`. */
  private def viewSql(from: String): String =
    s"""SELECT event_type, COUNT(*) AS n,
       |  CAST(SUM(user_id) AS BIGINT) AS sum_uid,
       |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
       |FROM $from GROUP BY 1""".stripMargin

  /** [[deletedPostingsLegs]]' replay: all three legs from a from-scratch
    * index over the surviving corpus (`doc_id % 7 <> 3`), the doc id
    * named `id`. */
  private def deletedPostingsSql(id: String): String = {
    val survivors = "(SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3)"
    val bm = TextQueries.bm25SqlFrom(TextQueries.bm25SearchQueryCte,
      docsFrom = survivors)
    val ph = TextQueries.phraseSqlFrom("doc_id % 251 = 7",
      docsFrom = survivors)
    s"""SELECT 'bm25_pre' AS leg, query_id, rank, doc_id AS $id, score
       |FROM ($bm)
       |UNION ALL
       |SELECT 'bm25_post' AS leg, query_id, rank, doc_id AS $id, score
       |FROM ($bm)
       |UNION ALL
       |SELECT 'phrase_post' AS leg, query_id, rank, doc_id AS $id,
       |  CAST(n_occ AS DOUBLE) AS score FROM ($ph)""".stripMargin
  }

  /** [[rrfServe]]'s replay: the bm25 CTE chain for the first 8 docs'
    * tokens 1-4 and the `ivf` dense leg, each top 5, fused with the
    * same integer floor-division arithmetic. */
  private def rrfSql(ivf: String): String = {
    val sparseQueryCte =
      """SELECT doc_id AS query_id,
        |    array_to_string(list_slice(
        |      string_split_regex(trim(text), '\s+'), 1, 4), ' ') AS query_text
        |  FROM documents WHERE doc_id < 8""".stripMargin
    s"""WITH ${TextQueries.bm25OracleCtes(sparseQueryCte)},
       |hivf AS ($ivf),
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

  /** Every gate with its oracle: one row each, so a gate cannot be
    * registered without one. */
  private val gates: Seq[(String, (SparkSession, String) => DataFrame,
      String)] = Seq(
    ("t11_late_split", t11LateSplit, t11Sql),
    ("t12_view_maintain", t12ViewMaintain, t12Sql),
    ("m8_stream_admission", streamAdmission, streamAdmissionSql),
    ("m8_store_compaction", storeCompaction, storeCompactionSql),
    ("m8_stream_sample", streamSample, streamSampleSql),
    ("m8_stream_clusters", streamClusters, streamClustersSql),
    ("t13_index_maintain", t13IndexMaintain, t13Sql),
    ("t14_postings_maintain", t14PostingsMaintain, t14Sql),
    ("t15_phrase_maintain", t15PhraseMaintain, t15Sql),
    ("t16_hybrid_serve", t16HybridServe, t16Sql),
    ("t17_store_delete", t17StoreDelete, t17Sql),
    ("t18_index_delete", t18IndexDelete, t18Sql),
    ("t19_quantizer_refresh", t19QuantizerRefresh, t19Sql),
    ("t20_proximity_maintain", t20ProximityMaintain, t20Sql),
    ("t21_analyzed_maintain", t21AnalyzedMaintain, t21Sql),
    ("t22_stream_delete", t22StreamDelete, t22Sql),
    ("t23_admission_delete", t23AdmissionDelete, t23Sql),
    ("t24_hybrid_refresh", t24HybridRefresh, t24Sql),
    ("t25_ledger_delete", t25LedgerDelete, t25Sql),
    ("t26_stream_sample_delete", t26StreamSampleDelete, t26Sql),
    ("t27_view_delete", t27ViewDelete, t27Sql),
    ("t28_policy_refresh", t28PolicyRefresh, t28Sql),
    ("t29_stream_view_delete", t29StreamViewDelete, t29Sql),
    ("t30_semantic_delete", t30SemanticDelete, t30Sql),
    ("m8_stream_semantic", streamSemantic, streamSemanticSql),
    ("m8_stream_decontaminate", streamDecontaminate, streamDecontaminateSql),
    ("m8_proximity_analyzed", m8ProximityAnalyzed, m8ProximityAnalyzedSql))

  def all: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g._1 -> g._2).toMap

  def oracles: Map[String, String] = gates.map(g => g._1 -> g._3).toMap
}
