package graft.streaming

import graft.queries.Dsl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.ops.TextCorpus

/** Contract of the streaming BM25 postings maintainer: end-state parity
  * with the from-scratch batch build, serve parity across compaction
  * (with the df partials actually folded), and replay idempotence of
  * the per-batch overwrite layout. */
class PostingsStreamSpec extends SparkSpec {

  private def tmp(p: String) = Dsl.tempDir(p)

  private def orderedBatches(df: DataFrame, k: Int): String = {
    val watch = tmp("pswatch")
    val base = System.currentTimeMillis() - 3600L * 1000
    (0 until k).foreach { i =>
      val stage = tmp("psstage")
      df.filter(col("doc_id") % k === i)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(watch, s"b$i.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(base + i * 2000L)
    }
    watch
  }

  private def docs: DataFrame =
    Tables.documents(spark, sf).select("doc_id", "text")

  private def queriesOf(d: DataFrame): DataFrame =
    d.filter(col("doc_id") % 7 === 3)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(coalesce(col("text"), lit(""))),
          "\\s+"), 1, 4), " ").as("query_text"))

  private def servedSet(store: String, q: DataFrame): Set[(Long, Int, Long, Long)] =
    PostingsStream.bm25Serve(spark, store, q, k = 5)
      .withColumn("sfp", round(col("score") * 1e6).cast("long"))
      .select("query_id", "rank", "doc_id", "sfp")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet

  private def drained(d: DataFrame, waves: Int,
                      positions: Boolean = false): String = {
    val root = tmp("psroot")
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(orderedBatches(d, waves))
    PostingsStream.maintainPostings(stream, root + "/index", tmp("psckpt"),
        positions = positions)
      .awaitTermination()
    root + "/index"
  }

  test("maintain: served ranking equals the from-scratch batch build") {
    val d = docs
    val store = drained(d, 3)
    val q = queriesOf(d)
    val batch = TextCorpus.bm25TopK(d, col("doc_id"), col("text"), q, k = 5)
      .withColumn("sfp", round(col("score") * 1e6).cast("long"))
      .select("query_id", "rank", "doc_id", "sfp")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(batch.nonEmpty)
    assert(servedSet(store, q) === batch)
  }

  test("compact: serve parity, and the base folds df to one row per word") {
    val d = docs
    val store = drained(d, 3)
    val q = queriesOf(d)
    val before = servedSet(store, q)
    val c = PostingsStream.compactIndex(spark, store, keepBatches = 1)
    assert(c.gen >= 2, s"expected a real fold, got $c")
    assert(servedSet(store, q) === before)
    // the folded base carries each word's df exactly once
    val base = spark.read.parquet(s"$store/graft_batch=-${c.gen}")
    val dfRows = base.filter(col("kind") === "df")
    assert(dfRows.count() === dfRows.select("word").distinct().count())
    // and the fold lost no df mass: summed df equals the live read's
    val live = BatchStore.read(spark, store).filter(col("kind") === "df")
      .agg(sum("n")).head.getLong(0)
    val direct = TextCorpus.tokenize(d, col("doc_id"), col("text"))
      .select("doc_id", "word").distinct().count()
    assert(live === direct)
  }

  test("replay: re-overwriting a batch dir leaves the served ranking fixed") {
    val d = docs
    val store = drained(d, 3)
    val q = queriesOf(d)
    val before = servedSet(store, q)
    // structured streaming re-delivers the last uncommitted batch to
    // foreachBatch with the same batchId — simulate that exact replay:
    // rebuild batch 2's partial and overwrite its dir wholesale
    PostingsStream.batchPartial(d.filter(col("doc_id") % 3 === 2))
      .sortWithinPartitions("kind", "word")
      .write.mode("overwrite").parquet(s"$store/graft_batch=2")
    assert(servedSet(store, q) === before)
  }

  test("positional store: phrase serve equals the batch phrase search, " +
       "through compaction, and bm25 serve ignores the tp rows") {
    val d = docs
    val store = drained(d, 3, positions = true)
    val phrases = d.filter(col("doc_id") % 7 === 3)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(coalesce(col("text"), lit(""))),
          "\\s+"), 2, 3), " ").as("query_text"))
    def setOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val batch = setOf(graft.ops.TextCorpus.phraseSearch(
      d, col("doc_id"), col("text"), phrases, k = 5))
    assert(batch.nonEmpty)
    assert(setOf(PostingsStream.phraseServe(spark, store, phrases, 5)) === batch)
    // bm25 over the positional store still matches the batch build
    val q = queriesOf(d)
    val bm25Batch = graft.ops.TextCorpus
      .bm25TopK(d, col("doc_id"), col("text"), q, k = 5)
      .withColumn("sfp", round(col("score") * 1e6).cast("long"))
      .select("query_id", "rank", "doc_id", "sfp").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(servedSet(store, q) === bm25Batch)
    // fold preserves both serves
    PostingsStream.compactIndex(spark, store, keepBatches = 1)
    assert(setOf(PostingsStream.phraseServe(spark, store, phrases, 5)) === batch)
    assert(servedSet(store, q) === bm25Batch)
  }

  test("positions mode is a whole-store property, enforced fail-closed") {
    val d = docs
    // serve without positions: refuse
    val plain = drained(d, 2)
    assertThrows[IllegalArgumentException] {
      PostingsStream.phraseServe(spark, plain,
        d.limit(1).select(col("doc_id").as("query_id"),
          col("text").as("query_text")), 5)
    }
    // positional retrofit of a position-less store: refuse
    val stream1 = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(orderedBatches(d, 2))
    assertThrows[IllegalArgumentException] {
      PostingsStream.maintainPostings(stream1, plain, tmp("psckpt"),
        positions = true)
    }
    // position-less append to a positional store: refuse
    val positional = drained(d, 2, positions = true)
    val stream2 = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(orderedBatches(d, 2))
    assertThrows[IllegalArgumentException] {
      PostingsStream.maintainPostings(stream2, positional, tmp("psckpt"))
    }
  }

  test("tokenization: empty and whitespace-only docs never enter the index") {
    import spark.implicits._
    val d = Seq((1L, "alpha beta alpha"), (2L, "   "), (3L, ""),
      (4L, "beta")).toDF("doc_id", "text")
    val store = tmp("psempty") + "/index"
    PostingsStream.batchPartial(d)
      .write.mode("overwrite").parquet(s"$store/graft_batch=0")
    val (tf, dl, df) = PostingsStream.readIndex(spark, store)
    assert(dl.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 4L))
    assert(tf.filter(col("doc_id") === 1L && col("word") === "alpha")
      .head.getLong(2) === 2L)
    assert(df.filter(col("word") === "beta").head.getLong(1) === 2L)
  }

  test("m8_proximity_analyzed leaves no cache entry behind") {
    // the gate shares one positional-store read across its four serve
    // legs; the shared frame must not outlive the query as a persisted
    // cache entry that piles up across repeat runs
    spark.catalog.clearCache()
    graft.SparkEntry.queries("m8_proximity_analyzed")(spark, sf).collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "m8_proximity_analyzed left a cached frame behind")
  }
}
