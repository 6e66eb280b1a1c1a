package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Sampling

/** Streaming maintenance of a weighted sample WITHOUT replacement — the
  * continuous corpus-subsampling loop a training pipeline runs while
  * documents keep arriving (hold a budget-sized, weight-proportional
  * sample of everything seen so far, at any moment).
  *
  * Correct because priority sampling is MERGEABLE: each row's priority
  * `coord(salt, id) / weight` is a pure function of the row, so the k
  * smallest priorities of (everything so far) equal the k smallest of
  * (previous winners ∪ new batch) — per-batch work is (k + |batch|)
  * sized, never history-sized, and the maintained sample is EXACTLY
  * [[Sampling.weightedSample]] over the full corpus (the identity the
  * `m8_stream_sample` oracle certifies end to end). State stores only
  * (id, weight) with weight as double — the same cast
  * [[Sampling.weightedSample]] applies, so fractional weights in (0,1)
  * keep the identity; priorities are re-derived on every fold.
  *
  * Snapshots are versioned and published exactly like
  * [[ViewMaintenance]] (stage `v{batchId}` → atomic `LATEST` pointer →
  * retire old snapshots, keeping the immediately-superseded one for
  * in-flight readers); a replayed batch detects its own published
  * snapshot and skips, and even a double fold would be a no-op — the
  * pool deduplicates by id before the cut, and min-k(min-k(S) ∪ S') is
  * min-k(S ∪ S'). Read the current sample with
  * [[ViewMaintenance.readLatest]] over the same state dir. */
object SampleStream {

  /** Takedown path for the maintained sample: publish a new snapshot
    * version with `docIds` (first column) filtered out, through the
    * same staged-write → atomic-pointer protocol as the fold (crash at
    * any point leaves the previous snapshot intact; a rerun
    * converges).
    *
    * SEMANTICS — honest and narrower than the other stores': the
    * deleted ids are gone from every subsequent read (the takedown
    * guarantee), but the sample SHRINKS rather than re-filling — the
    * (k+1)-th priority was discarded at fold time and cannot be
    * resurrected without a corpus re-scan. Later batches refill
    * naturally (the fold cuts winners ∪ batch back to k). A caller who
    * needs a full-size sample of the surviving corpus re-derives it
    * with [[graft.ops.Sampling.weightedSample]].
    *
    * Run between drains. The admin version id rides far above the
    * stream's batch ids so the replay guard (which keys versions by
    * batch id) can never mistake a real batch for this publish. */
  def deleteFromSample(spark: org.apache.spark.sql.SparkSession,
                       stateDir: String, docIds: DataFrame): Unit = {
    val prior = ViewMaintenance.latestSnapshot(spark, stateDir)
    prior.foreach { snap =>
      val n = snap.split('/').last.stripPrefix("v").toLong
      val keys = docIds.select(
        col(docIds.columns.head).cast("long").as("sample_id")).distinct()
      SnapshotStore.fold(spark, stateDir, n + 1000000L, admin = true) { p =>
        p.get.join(keys, Seq("sample_id"), "left_anti")
      }
    }
  }

  /** Start maintaining the sample over streaming `docs` with (`idCol`,
    * `weightCol`) columns. AvailableNow by default; `continuous = true`
    * for a long-running loop. Weights must be positive — the fold
    * inherits [[Sampling.weightedSample]]'s fail-loudly guard.
    *
    * `kindCol`: STREAMED TOMBSTONES
    * ([[PostingsStream.maintainPostings]] has the full contract) —
    * `"add"` rows fold as usual, `"del"` rows carry only an id (weight
    * never read) and run [[deleteFromSample]] AFTER the batch's fold,
    * so a same-batch add+del leaves the id out of the sample and a
    * cross-batch delete takes effect immediately. Replay converges:
    * the fold is SKIPPED outright — the [[SnapshotStore]] `_FOLDED`
    * high-water mark recognizes the already-folded batch even behind
    * the delete's admin snapshot, so a replay can never re-fold over
    * the post-delete shrunken sample and backfill deleted slots with
    * adds the first fold cut at rank > k — and the re-applied delete
    * anti-joins ids that are already gone. The
    * shrink-not-refill semantics of [[deleteFromSample]] apply per
    * delete — later add batches refill naturally. */
  def maintainSample(docs: DataFrame, stateDir: String, checkpointDir: String,
                     k: Int, salt: String,
                     idCol: String = "doc_id", weightCol: String = "weight",
                     continuous: Boolean = false,
                     kindCol: Option[String] = None): StreamingQuery = {
    require(k > 0, s"k: $k")
    // the batch's tombstones land AFTER its fold (delete wins over a
    // same-batch add); delete-free batches publish no admin snapshot
    BatchStore.drain(docs, checkpointDir, continuous, kindCol,
        tombstone = b =>
          deleteFromSample(b.spark, stateDir, b.dels.select(idCol))) { b =>
      // The shared snapshot-fold protocol carries the replay guard and
      // the staged publish ([[SnapshotStore]]).
      SnapshotStore.fold(b.spark, stateDir, b.id) { prior =>
        // weight stays double — the exact cast Sampling.weightedSample
        // applies, so the maintained-sample identity holds for
        // fractional weights too (a long cast would floor a valid
        // weight in (0,1) to 0 and trip the non-positive guard);
        // priorities are re-derived each fold, so a double in the
        // state schema is just as mergeable
        val delta = b.adds.select(
          col(idCol).cast("long").as("sample_id"),
          col(weightCol).cast("double").as("weight"))
        val pool = prior
          .map(_.unionByName(delta))
          .getOrElse(delta)
          .dropDuplicates("sample_id")
        Sampling.weightedSample(pool, col("sample_id"), col("weight"),
          k, salt)
      }
    }
  }
}
