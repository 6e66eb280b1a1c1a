package graft.streaming

import graft.queries.Dsl
import graft.SparkSpec

/** Storage invariants of the delta-published labeling: latest-wins
  * reads, lookup-shaped labelsFor/membersOf, latest-wins compaction,
  * and the replay exclusion — the pieces that make the admission
  * ledger's per-batch IO O(affected + delta) instead of O(corpus). */
class DeltaLedgerSpec extends SparkSpec {
  import spark.implicits._

  private def dir() = Dsl.tempDir("dlg") + "/labels"

  private def readMap(d: String, exclude: Long = Long.MinValue) =
    DeltaLedger.read(spark, d, exclude)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("latest batch wins; a doc absent from later batches keeps its row") {
    val d = dir()
    DeltaLedger.write(Seq((1L, 1L), (2L, 2L), (3L, 3L))
      .toDF("doc_id", "cluster_id"), d, 0L)
    // batch 1 merges 2 and 3 into cluster 2 and adds 4; doc 1 untouched
    DeltaLedger.write(Seq((2L, 2L), (3L, 2L), (4L, 2L))
      .toDF("doc_id", "cluster_id"), d, 1L)
    assert(readMap(d) == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
  }

  test("labelsFor and membersOf are lookup-shaped and current") {
    val d = dir()
    DeltaLedger.write(Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L))
      .toDF("doc_id", "cluster_id"), d, 0L)
    // cluster 3 merges into 1 (both members rewritten — the fold's
    // contract: a merged-away cluster id never stays live)
    DeltaLedger.write(Seq((3L, 1L), (1L, 1L)).toDF("doc_id", "cluster_id"),
      d, 1L)
    val lbl = DeltaLedger.labelsFor(spark, d, Seq(3L, 4L).toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl == Map(3L -> 1L, 4L -> 4L))
    val mem = DeltaLedger.membersOf(spark, d, Seq(1L).toDF("cluster_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mem == Map(1L -> 1L, 3L -> 1L),
      s"live cluster 1's membership wrong: $mem")
    // the dead cluster id 3 has no CURRENT rows labeled 3 — only doc
    // 3's stale batch-0 row, which latest-wins resolves away
    val dead = DeltaLedger.membersOf(spark, d, Seq(3L).toDF("cluster_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dead == Map(3L -> 1L),
      "a stale row must resolve to the doc's current label, " +
        s"never resurrect the dead cluster: $dead")
  }

  test("membersOfLive equals membersOf on live ids; only dead ids need the resolve pass") {
    val d = dir()
    DeltaLedger.write(Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L))
      .toDF("doc_id", "cluster_id"), d, 0L)
    // cluster 3 merges into 1; cluster 4 gains member 5 later
    DeltaLedger.write(Seq((3L, 1L), (1L, 1L)).toDF("doc_id", "cluster_id"), d, 1L)
    DeltaLedger.write(Seq((5L, 4L), (4L, 4L)).toDF("doc_id", "cluster_id"), d, 2L)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // live ids: the one-scan read must equal the two-scan one
    for (live <- Seq(1L, 2L, 4L)) {
      val fast = asMap(DeltaLedger.membersOfLive(spark, d,
        Seq(live).toDF("cluster_id")))
      val full = asMap(DeltaLedger.membersOf(spark, d,
        Seq(live).toDF("cluster_id")))
      assert(fast == full, s"membersOfLive diverged on live id $live: " +
        s"$fast vs $full")
    }
    // dead id 3: membersOfLive's single reduce sees only the stale
    // (3,3) row and would resurrect it — exactly the case the caller
    // contract excludes and membersOf's resolve pass exists for
    val fastDead = asMap(DeltaLedger.membersOfLive(spark, d,
      Seq(3L).toDF("cluster_id")))
    val fullDead = asMap(DeltaLedger.membersOf(spark, d,
      Seq(3L).toDF("cluster_id")))
    assert(fullDead == Map(3L -> 1L))
    assert(fastDead == Map(3L -> 3L),
      "expected the documented divergence on a dead id — if this ever " +
        s"equals membersOf, the invariant note is stale: $fastDead")
  }

  test("compaction folds latest-wins: one row per doc, read unchanged") {
    val d = dir()
    DeltaLedger.write(Seq((1L, 1L), (2L, 2L)).toDF("doc_id", "cluster_id"), d, 0L)
    DeltaLedger.write(Seq((2L, 1L), (3L, 1L)).toDF("doc_id", "cluster_id"), d, 1L)
    DeltaLedger.write(Seq((4L, 4L)).toDF("doc_id", "cluster_id"), d, 2L)
    DeltaLedger.write(Seq((5L, 4L), (4L, 4L)).toDF("doc_id", "cluster_id"), d, 3L)
    val before = readMap(d)
    assert(before == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
    val rep = DeltaLedger.compact(spark, d, keepBatches = 1)
    assert(rep.gen == 2L && rep.foldedBatches == Seq(0L, 1L, 2L))
    // the base holds ONE row per folded doc (stale (2,2) resolved away
    // at fold time, not left for every future read to re-resolve)
    assert(rep.baseRows == 4L, s"latest-wins fold kept stale rows: $rep")
    assert(readMap(d) == before, "compaction changed the labeling")
    // a second fold converges and stays latest-wins across base + live
    DeltaLedger.write(Seq((1L, 0L), (0L, 0L)).toDF("doc_id", "cluster_id"), d, 4L)
    DeltaLedger.compact(spark, d, keepBatches = 1)
    assert(readMap(d) == before ++ Map(1L -> 0L, 0L -> 0L))
  }

  test("excludeBatch hides a replaying batch's own first attempt") {
    val d = dir()
    DeltaLedger.write(Seq((1L, 1L)).toDF("doc_id", "cluster_id"), d, 0L)
    DeltaLedger.write(Seq((2L, 1L)).toDF("doc_id", "cluster_id"), d, 1L)
    assert(readMap(d, exclude = 1L) == Map(1L -> 1L),
      "the replaying batch's first attempt leaked into its own fold read")
    assert(DeltaLedger.labelsFor(spark, d, Seq(2L).toDF("doc_id"),
      excludeBatch = 1L).count() == 0)
    // a read on a store that does not exist yet is empty, not an error
    assert(readMap(dir()) == Map.empty[Long, Long])
  }
}
