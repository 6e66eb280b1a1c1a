package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Behavioral contract of the Selection operators: the Gopher-style
  * rule filter on hand-built edge docs, and DSIR importance weights /
  * resample on a corpus with a known target skew. */
class SelectionSpec extends SparkSpec {

  import spark.implicits._

  private def rulesFor(text: String) = {
    val df = Seq((1L, text)).toDF("doc_id", "text")
    Selection.qualityRules(df, col("doc_id"), col("text")).collect().head
  }

  test("quality rules: a clean prose doc passes every rule") {
    val words = Seq.fill(8)("the quick brown fox jumps over with energy and grace")
    val r = rulesFor(words.mkString(" "))
    assert(r.getAs[Boolean]("pass"),
      s"expected pass, got $r")
  }

  test("quality rules: word-count bound fails a 10-word doc") {
    val r = rulesFor("the and of to be that have with short doc")
    assert(!r.getAs[Boolean]("r_word_count"))
    assert(!r.getAs[Boolean]("pass"))
    assert(r.getAs[Boolean]("r_stop_words"), "stop-word rule should pass")
  }

  test("quality rules: symbol ratio counts '#' and literal ellipses") {
    val r = rulesFor("# # # ... eight words here total now yes")
    // 4 symbols vs 11 words -> 40 > 11 fails
    assert(r.getAs[Long]("n_symbols") === 4L)
    assert(!r.getAs[Boolean]("r_symbol_ratio"))
  }

  test("quality rules: bullet and ellipsis line fractions") {
    val text = Seq("- item one", "- item two", "trailing thought...").mkString("\n")
    val r = rulesFor(text)
    assert(r.getAs[Long]("n_lines") === 3L)
    assert(r.getAs[Long]("n_bullet_lines") === 2L)
    assert(r.getAs[Long]("n_ellipsis_lines") === 1L)
    // 10*2 <= 9*3 passes; 10*1 > 3*3 fails
    assert(r.getAs[Boolean]("r_bullet_lines"))
    assert(!r.getAs[Boolean]("r_ellipsis_lines"))
  }

  test("quality rules: empty and null text degrade to zero counters") {
    val df = Seq((1L, ""), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val rows = Selection.qualityRules(df, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_words") === 0L)
      assert(r.getAs[Long]("n_lines") === 0L)
      assert(!r.getAs[Boolean]("pass"))
    }
  }

  /** Corpus where docs 1-4 speak the target's vocabulary and 5-8 a
    * disjoint one; the target corpus is drawn from the first dialect. */
  private def skewedCorpus = Seq(
    (1L, "alpha beta gamma alpha beta"),
    (2L, "beta gamma alpha beta gamma"),
    (3L, "gamma alpha beta gamma alpha"),
    (4L, "alpha alpha beta beta gamma"),
    (5L, "omega psi chi omega psi"),
    (6L, "psi chi omega psi chi"),
    (7L, "chi omega psi chi omega"),
    (8L, "omega omega psi psi chi")).toDF("doc_id", "text")

  private def targetCorpus = Seq(
    (101L, "alpha beta alpha gamma beta"),
    (102L, "gamma gamma alpha beta alpha")).toDF("doc_id", "text")

  test("importance weights: target-dialect docs outweigh off-target docs") {
    val w = Selection.importanceWeights(skewedCorpus, targetCorpus,
      col("doc_id"), col("text"), buckets = 64)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("weight")).toMap
    assert(w.size === 8)
    val onTarget = (1L to 4L).map(w)
    val offTarget = (5L to 8L).map(w)
    assert(onTarget.min > offTarget.max,
      s"expected every on-target weight above every off-target one: $w")
  }

  test("importance weights: empty doc gets weight 0 and survives") {
    val raw = skewedCorpus.union(Seq((9L, "")).toDF("doc_id", "text"))
    val w = Selection.importanceWeights(raw, targetCorpus,
      col("doc_id"), col("text"), buckets = 64)
    val r9 = w.filter(col("doc_id") === 9L).collect().head
    assert(r9.getAs[Long]("n_grams") === 0L)
    assert(r9.getAs[Long]("weight") === 0L)
  }

  test("importance resample: keeps ceil(n*num/den) docs, highest weight first") {
    val kept = Selection.importanceResample(skewedCorpus, targetCorpus,
      col("doc_id"), col("text"), buckets = 64, keepNum = 1, keepDen = 2)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept.size === 4)
    assert(kept === Set(1L, 2L, 3L, 4L),
      s"the on-target dialect should be selected: $kept")
  }

  test("importance resample: boundary tie breaks on the smaller doc_id") {
    // two identical docs -> identical weights; keep 1 of 2 must pick id 1
    val raw = Seq((1L, "alpha beta"), (2L, "alpha beta")).toDF("doc_id", "text")
    val kept = Selection.importanceResample(raw, targetCorpus,
      col("doc_id"), col("text"), buckets = 64, keepNum = 1, keepDen = 2)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept === Set(1L))
  }

  test("importance resample: keepNum=den keeps everything") {
    val kept = Selection.importanceResample(skewedCorpus, targetCorpus,
      col("doc_id"), col("text"), buckets = 64, keepNum = 1, keepDen = 1)
    assert(kept.count() === 8L)
  }

  test("distribution drift: identical snapshots drift zero everywhere") {
    val d = Selection.distributionDrift(skewedCorpus, lit(true), lit(true),
      col("text"), buckets = 64).collect()
    assert(d.nonEmpty)
    d.foreach { r =>
      assert(r.getAs[Long]("c_before") === r.getAs[Long]("c_after"))
      assert(r.getAs[Long]("drift_bits") === 0L, s"phantom drift: $r")
    }
  }

  test("distribution drift: a vanished dialect drifts negative, fixed-size output") {
    // before: both dialects; after: the omega dialect only
    val d = Selection.distributionDrift(skewedCorpus, lit(true),
      col("doc_id") >= 5L, col("text"), buckets = 64).collect()
    assert(d.length <= 64, "scorecard must stay bucket-bounded")
    // a HIGH-MASS bucket that lost everything must drift < 0; a
    // single-occurrence bucket legitimately may not move a whole bit
    // under add-one smoothing, so the assertion keys on real mass
    val vanished = d.filter(r => r.getAs[Long]("c_before") >= 4L &&
      r.getAs[Long]("c_after") === 0L)
    assert(vanished.nonEmpty, "fixture lost no high-mass bucket")
    vanished.foreach(r => assert(r.getAs[Long]("drift_bits") < 0L,
      s"vanished bucket did not drift negative: $r"))
  }

  test("selection export capstone: cap and survivor-derived k both hold") {
    val rows = graft.SparkEntry.queries("m8_selection_export")(
      spark, graft.TestSpark.sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") <= 8L,
        s"per-source cap breached: $r")
    }
    // selected total can never exceed ceil(survivors/2); survivors are
    // a subset of the corpus, so n_docs total <= ceil(corpus/2)
    val corpus = graft.Tables.documents(spark, graft.TestSpark.sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum <= (corpus + 1) / 2)
  }
}
