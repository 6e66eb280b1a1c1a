package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.VectorFns
import graft.similarity.Similarity

/** Incremental maintenance of a stored quantized ANN index
  * ([[Similarity.ivfBuildQuantized]]'s lake layout): new embedding
  * batches are encoded against the FIXED stored coarse quantizer and
  * appended to the inverted-lists store — the production contract for
  * index refresh between full rebuilds (retraining the quantizer would
  * silently re-key every existing list).
  *
  * Crash safety mirrors [[DedupStream]]: each batch writes its rows to
  * its own `graft_batch=<id>` subdir with overwrite, so a batch replayed
  * after a crash-before-checkpoint-commit REPLACES its previous attempt
  * instead of appending duplicate list rows. Assignment is per-vector
  * against fixed centroids, so the end-state store is EXACTLY the batch
  * build over the full corpus — the property the `t13_index_maintain`
  * oracle certifies end to end.
  *
  * Fail-closed: a missing or unreadable centroid store throws and fails
  * the batch — encoding against nothing must never fabricate an empty
  * assignment.
  *
  * Store lifecycle: run [[BatchStore.compact]] on `listsDir` between
  * drains; the serve path reads the lists through [[BatchStore.read]],
  * so an index that has lived through thousands of refresh batches
  * costs the same to open as a freshly built one (IndexStreamSpec
  * pins serve parity across compaction). */
object IndexStream {

  /** Tombstone `ids` (first column = vec_ids) out of the lists store —
    * the takedown path: [[readLists]] immediately excludes their list
    * entries (a deleted vector can never appear in a shortlist again),
    * and the next [[compactLists]] physically drops the rows. Run
    * between drains/serves — the store family's single-admin
    * contract. */
  def deleteVectors(spark: org.apache.spark.sql.SparkSession,
                    listsDir: String, ids: DataFrame): Unit =
    BatchStore.delete(spark, listsDir, ids)

  /** The live inverted-list rows `(cand_id, cent_id, code)` — the ONLY
    * correct way to read a maintained lists store: pointer-filtered
    * ([[BatchStore.read]]) and tombstone-masked, so a serve is exact at
    * every instant of a compaction and never scores a deleted
    * vector. */
  def readLists(spark: org.apache.spark.sql.SparkSession,
                listsDir: String): DataFrame =
    BatchStore.readLive(spark, listsDir, "cand_id")(
      _.select("cand_id", "cent_id", "code"))

  /** Fold old list batch dirs into a base generation, physically
    * dropping tombstoned vectors' rows (run between drains — see
    * [[BatchStore]]). */
  def compactLists(spark: org.apache.spark.sql.SparkSession,
                   listsDir: String,
                   keepBatches: Int = 2): BatchStore.Compaction =
    BatchStore.compact(spark, listsDir, keepBatches, None,
      dropDeletedOn = Some("cand_id"))

  /** One batch of (vec_id, embedding) rows assigned by `assign` against
    * the FIXED stored quantizer — `(cand_id, cv, cent_id, …)` rows.
    * Fail-closed on a missing centroid store (encoding against nothing
    * must never fabricate an empty assignment). */
  private[streaming] def assignAgainst(batch: DataFrame, centroidDir: String,
                                       assign: (DataFrame, DataFrame) =>
                                         DataFrame = Similarity.ivfAssign)
      : DataFrame = {
    val spark = batch.sparkSession
    val centPath = new Path(centroidDir)
    val fs = centPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(centPath),
      s"centroid store missing at $centroidDir — refusing to encode " +
        "against an empty quantizer")
    // spread the one-file batch before the per-row assignment cosines —
    // see [[graft.Tables.spread]]
    assign(graft.Tables.spread(batch).select(col("vec_id").as("cand_id"),
      col("embedding").as("cv")), spark.read.parquet(centroidDir))
  }

  /** Assigned rows int8-quantized into `(cand_id, cent_id, code)` list
    * rows. */
  private[streaming] def quantized(assigned: DataFrame): DataFrame =
    assigned
      .withColumn("scale", VectorFns.quantize_scale(col("cv")))
      .withColumn("code", VectorFns.quantize_i8(col("cv"), col("scale")))
      .select("cand_id", "cent_id", "code")

  /** [[assignAgainst]] + [[quantized]]: nearest-centroid assignment and
    * int8 quantization against the fixed quantizer. Shared by
    * [[maintainIndex]] and [[AnnIndex.maintain]]. */
  private[streaming] def encodeAgainst(batch: DataFrame,
                                       centroidDir: String): DataFrame =
    quantized(assignAgainst(batch, centroidDir))

  /** Start the maintenance stream over a streaming `vecs` frame with
    * (vec_id, embedding) columns. AvailableNow by default (drain-then-
    * stop); `continuous = true` for a long-running micro-batch loop.
    *
    * Caller contract: vec_ids are unique across the standing corpus and
    * all deltas (the upstream admission stream is what enforces
    * at-most-once ingest) — a re-ingested id would append a second list
    * row, and the serve path would score it twice. Within one batch
    * duplicates collapse naturally (assignment is keyed per (id, sub)).
    *
    * `kindCol`: STREAMED TOMBSTONES ([[PostingsStream.maintainPostings]]
    * has the full contract) — `"add"` rows are encoded, `"del"` rows
    * carry only a vec_id (embedding may be NULL, it is never read) and
    * tombstone the lists store after the batch's adds land; same-batch
    * add+del leaves the vector deleted, replays converge by set
    * semantics, any other kind fails the batch. */
  def maintainIndex(vecs: DataFrame, centroidDir: String, listsDir: String,
                    checkpointDir: String,
                    continuous: Boolean = false,
                    compactWhenBatchesExceed: Option[Int] = None,
                    kindCol: Option[String] = None)
      : StreamingQuery = {
    BatchStore.drain(vecs, checkpointDir, continuous, kindCol,
        compactOver = compactWhenBatchesExceed,
        compact = BatchStore.compactIfOver(vecs.sparkSession, listsDir, _,
          dropDeletedOn = Some("cand_id")),
        tombstone = _.tombstoneIn("vec_id", listsDir)) { b =>
      encodeAgainst(b.adds, centroidDir).write.mode("overwrite")
        .parquet(s"$listsDir/graft_batch=${b.id}")
    }
  }
}
