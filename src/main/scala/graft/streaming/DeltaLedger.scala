package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Delta-published (doc_id, cluster_id) labeling over the
  * [[BatchStore]] layout — the storage half of the O(affected + delta)
  * ledger contract.
  *
  * The versioned-snapshot protocol ([[SnapshotStore]]) rewrites the
  * WHOLE labeling every batch: compute went delta-local
  * ([[graft.ops.ConnectedComponents.incremental]]), but the write
  * stayed corpus-sized — at production batch counts the admission loop
  * would spend its wall clock re-serializing billions of unchanged
  * label rows. Here each batch writes ONLY the rows the fold changed
  * or created (its affected universe), into a crash-safe overwrite
  * `graft_batch=<id>` dir, and recency is the batch number itself:
  *
  *  - a doc's CURRENT label is its row with the highest `graft_batch`
  *    among live dirs ([[read]] — one latest-wins reduce, paid by the
  *    rare full-snapshot reader, not by every batch);
  *  - labels only ever merge downward, so a LIVE cluster id's rows are
  *    all current (a cluster that merged away had every member
  *    rewritten in that batch — no stale row can carry a live id),
  *    which is what lets [[membersOf]] find a live cluster's members
  *    with a scan + semi-join and per-doc latest reduce over just
  *    those rows — affected-sized work, zero corpus-wide shuffles;
  *  - compaction folds old dirs latest-wins ([[compact]] — the
  *    [[BatchStore]] merge hook) down to one row per doc, so the
  *    store's live row count tracks corpus size, not corpus × churn.
  *
  * Crash/replay: identical to the other `graft_batch=` stores — a
  * replayed batch overwrites its own dir, and every reader here
  * excludes the replaying batch's dir via `excludeBatch` so a fold
  * never reads its own first attempt. */
object DeltaLedger {

  private def schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("cluster_id", LongType),
    StructField(BatchStore.BatchCol, LongType)))

  /** All live rows (possibly several generations of a doc's label),
    * batch column included. Empty frame when the store doesn't exist.
    * Tombstoned docs ([[delete]]) drop out of every ledger read: a
    * taken-down doc has no label row. cluster_id VALUES are opaque
    * labels (the min-id representative at fold time), so other members
    * keeping a deleted doc's id as their label is fine — the label
    * names a cluster, not a living row. */
  private def liveRows(spark: SparkSession, dir: String,
                       excludeBatch: Long): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      BatchStore.readLive(spark, dir, "doc_id", Some(schema))(
        _.filter(col(BatchStore.BatchCol) =!= lit(excludeBatch)))
  }

  /** Latest-wins reduce: one (doc_id, cluster_id) row per doc. Base
    * generations are negative batch ids, so live batches always beat
    * the compacted base, and within one batch a doc has one row. */
  private def latest(rows: DataFrame): DataFrame =
    rows.groupBy(col("doc_id"))
      .agg(max_by(col("cluster_id"), col(BatchStore.BatchCol))
        .as("cluster_id"))

  /** The full current labeling — the audit/export read (one scan + one
    * doc-keyed reduce). `excludeBatch` guards a mid-replay reader. */
  def read(spark: SparkSession, dir: String,
           excludeBatch: Long = Long.MinValue): DataFrame =
    latest(liveRows(spark, dir, excludeBatch))

  /** Current labels of exactly the docs in `docIds` (one column,
    * `doc_id`): scan, semi-join down to those docs' rows, reduce —
    * lookup-sized output, no corpus-wide shuffle. */
  def labelsFor(spark: SparkSession, dir: String, docIds: DataFrame,
                excludeBatch: Long = Long.MinValue,
                broadcastLookup: Boolean = true): DataFrame = {
    val keys = docIds.select(col(docIds.columns.head).as("doc_id")).distinct()
    latest(liveRows(spark, dir, excludeBatch)
      .join(if (broadcastLookup) broadcast(keys) else keys,
        Seq("doc_id"), "left_semi"))
  }

  /** Current labels of every doc that EVER carried one of `clusterIds`
    * (one column). For a LIVE cluster id that is exactly its current
    * membership — labels only merge downward, so a live id's carriers
    * are its members; for a merged-away id the docs resolve to their
    * current (smaller) label, never the stale one: candidates come
    * from the cluster semi-join, but each candidate's label is reduced
    * over ALL of its rows (a second scan + doc semi-join — still
    * lookup-sized output). `broadcastLookup` (here and in
    * [[labelsFor]]): with a bounded lookup set the broadcast hint
    * keeps the ledger scan shuffle-free; for a corpus-sized lookup
    * (backlog batches) pass false — forcing a giant broadcast costs
    * more than the shuffle it avoids. Callers with a batch-size
    * policy ([[DedupStream]]) thread the same size decision here as
    * for the screen. */
  def membersOf(spark: SparkSession, dir: String, clusterIds: DataFrame,
                excludeBatch: Long = Long.MinValue,
                broadcastLookup: Boolean = true): DataFrame = {
    val keys = clusterIds
      .select(col(clusterIds.columns.head).as("cluster_id")).distinct()
    val candidates = liveRows(spark, dir, excludeBatch)
      .join(if (broadcastLookup) broadcast(keys) else keys,
        Seq("cluster_id"), "left_semi")
      .select(col("doc_id")).distinct()
    labelsFor(spark, dir, candidates, excludeBatch, broadcastLookup)
  }

  /** Current membership of LIVE cluster ids — ONE scan, cluster-keyed
    * semi-join, latest reduce. The caller guarantees liveness (ids
    * just returned by [[labelsFor]]/[[read]] are live by definition);
    * correctness then follows from the merge-downward invariant the
    * class doc states: no stale row can carry a live id (a cluster
    * that merged away had every member rewritten in that batch), and
    * no member of a live cluster has a newer row under another id (a
    * member that left would have killed the id) — so the cluster-keyed
    * rows contain exactly every member's current row, and the per-doc
    * latest reduce over them is the membership. For possibly-dead ids
    * use [[membersOf]], whose second resolve pass is what prevents a
    * stale id from resurrecting members. One scan instead of
    * [[membersOf]]'s two is what the per-batch ledger fold pays N
    * times per admission batch. */
  def membersOfLive(spark: SparkSession, dir: String, clusterIds: DataFrame,
                    excludeBatch: Long = Long.MinValue,
                    broadcastLookup: Boolean = true): DataFrame = {
    val keys = clusterIds
      .select(col(clusterIds.columns.head).as("cluster_id")).distinct()
    latest(liveRows(spark, dir, excludeBatch)
      .join(if (broadcastLookup) broadcast(keys) else keys,
        Seq("cluster_id"), "left_semi"))
  }

  /** Publish batch `batchId`'s changed/created rows (doc_id,
    * cluster_id). Crash-safe by layout: a replayed batch REPLACES its
    * own dir. */
  def write(delta: DataFrame, dir: String, batchId: Long): Unit =
    delta.select(col("doc_id"), col("cluster_id"))
      .write.mode("overwrite")
      .parquet(s"$dir/${BatchStore.BatchCol}=$batchId")

  /** Tombstone `docIds` (first column) out of the ledger — the
    * takedown path: every read drops their label rows immediately and
    * the next [[compact]] physically removes them. */
  def delete(spark: SparkSession, dir: String, docIds: DataFrame): Unit =
    BatchStore.delete(spark, dir, docIds)

  /** Latest-wins fold of old batch dirs into a base generation of one
    * row per doc (the [[BatchStore.compact]] merge hook); tombstoned
    * docs' rows are physically dropped. */
  def compact(spark: SparkSession, dir: String,
              keepBatches: Int = 2): BatchStore.Compaction =
    BatchStore.compact(spark, dir, keepBatches, Some(latest),
      dropDeletedOn = Some("doc_id"))

  /** Threshold-policy variant, for the between-drains hook. */
  def compactIfOver(spark: SparkSession, dir: String, threshold: Int,
                    keepBatches: Int = 2): Option[BatchStore.Compaction] =
    BatchStore.compactIfOver(spark, dir, threshold, keepBatches,
      Some(latest), dropDeletedOn = Some("doc_id"))
}
