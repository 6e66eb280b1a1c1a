package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Training-data SELECTION operators: which documents make the cut.
  *
  * Two published families, both re-expressed integer-exact so the
  * DuckDB correctness oracle hash-compares them bit-for-bit:
  *
  *  - [[qualityRules]] — a Gopher-style composite rule filter (Rae et
  *    al. 2021, "Scaling Language Models", Appendix A): word-count
  *    bounds, mean word length, symbol-to-word ratio, bullet/ellipsis
  *    line fractions, alphabetic-word fraction, stop-word presence.
  *    Every ratio threshold is evaluated by integer cross-multiplication
  *    (`10*sym <= words`, never `sym/words <= 0.1`), so no float ever
  *    reaches a predicate and the verdict is engine-portable.
  *
  *  - [[importanceWeights]] / [[importanceResample]] — DSIR-style data
  *    selection via importance resampling (Xie et al. 2023): hashed
  *    n-gram bag features, a per-bucket log-likelihood ratio between a
  *    TARGET corpus and the RAW corpus, and a top-`k` resample of the
  *    raw corpus by total log-ratio. The log is the same floor-log2
  *    surprisal used by [[TextCorpus.unigramSurprisal]] — integer
  *    division plus binary-string length — so weights are exact longs
  *    and the resample boundary is deterministic.
  *
  * Scale shapes (the 100 TB contract):
  *  - rules: one codegen'd projection per doc — no exchange at all;
  *  - weights: grams shuffle once keyed by hash bucket (≤ `buckets`
  *    distinct keys, partial-aggregated map-side); the bucket scorecard
  *    is ≤ `buckets` rows and BROADCASTS back into the gram stream, so
  *    the corpus is never shuffled a second time;
  *  - resample: the selection threshold comes from an integer WEIGHT
  *    HISTOGRAM (distinct weight values, a tiny frame), never a global
  *    sort — `ORDER BY weight LIMIT k` at k = fraction×corpus would
  *    funnel k rows through the driver; the histogram keeps the cut
  *    map-side for every weight class except the single boundary class,
  *    which alone pays a per-class rank.
  */
object Selection {

  /** The Gopher stop set: rule 7 requires ≥ 2 distinct hits. */
  val GopherStop: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Composite quality-rule verdict per document. Returns one row per
    * input doc: the raw integer counters, one boolean per rule, and the
    * conjunction `pass`. Thresholds follow the published Gopher set
    * (word count 50..100000, mean word length 3..10, symbol ratio ≤0.1,
    * bullet lines ≤90%, ellipsis lines ≤30%, alpha words ≥80%, ≥2 stop
    * words); all ratio comparisons are integer cross-multiplied.
    * `stopWords` defaults to the published Gopher set — pass a
    * corpus-appropriate function-word list when the corpus's language
    * mix differs (the rule is "has common function words", not "has
    * these eight English strings"). */
  def qualityRules(docs: DataFrame, id: Column, text: Column,
                   stopWords: Seq[String] = GopherStop): DataFrame = {
    val t = trim(coalesce(text, lit("")))
    val toks = when(t === "", array().cast("array<string>"))
      .otherwise(split(t, "\\s+"))
    val lines = when(t === "", array().cast("array<string>"))
      .otherwise(split(coalesce(text, lit("")), "\n"))
    val d = docs.select(id.as("doc_id"), t.as("_t"), toks.as("_toks"),
      lines.as("_lines"))
      .select(col("doc_id"), col("_toks"), col("_lines"),
        size(col("_toks")).cast("long").as("n_words"),
        // total non-whitespace chars == chars inside words
        length(regexp_replace(col("_t"), "\\s+", "")).cast("long").as("n_word_chars"),
        // '#' or a literal three-dot ellipsis, leftmost non-overlapping
        size(regexp_extract_all(col("_t"), lit("#|\\.\\.\\."), lit(0)))
          .cast("long").as("n_symbols"))
      .select(col("doc_id"), col("n_words"), col("n_word_chars"), col("n_symbols"),
        size(col("_lines")).cast("long").as("n_lines"),
        size(filter(col("_lines"), l =>
          ltrim(l).startsWith("-") || ltrim(l).startsWith("*") ||
            ltrim(l).startsWith("•"))).cast("long").as("n_bullet_lines"),
        size(filter(col("_lines"), l =>
          rtrim(l).endsWith("...") || rtrim(l).endsWith("…")))
          .cast("long").as("n_ellipsis_lines"),
        size(filter(col("_toks"), w => w.rlike("[A-Za-z]")))
          .cast("long").as("n_alpha_words"),
        size(array_intersect(
          transform(col("_toks"), w => lower(w)),
          array(stopWords.map(lit): _*))).cast("long").as("n_stop_hits"))
    val rWc = col("n_words") >= 50 && col("n_words") <= 100000
    val rMwl = col("n_words") > 0 &&
      col("n_word_chars") >= lit(3L) * col("n_words") &&
      col("n_word_chars") <= lit(10L) * col("n_words")
    val rSym = lit(10L) * col("n_symbols") <= col("n_words")
    val rBullet = lit(10L) * col("n_bullet_lines") <= lit(9L) * col("n_lines")
    val rEllipsis = lit(10L) * col("n_ellipsis_lines") <= lit(3L) * col("n_lines")
    val rAlpha = lit(5L) * col("n_alpha_words") >= lit(4L) * col("n_words")
    val rStop = col("n_stop_hits") >= 2
    d.select(col("doc_id"), col("n_words"), col("n_word_chars"),
      col("n_symbols"), col("n_lines"), col("n_bullet_lines"),
      col("n_ellipsis_lines"), col("n_alpha_words"), col("n_stop_hits"),
      rWc.as("r_word_count"), rMwl.as("r_mean_word_len"),
      rSym.as("r_symbol_ratio"), rBullet.as("r_bullet_lines"),
      rEllipsis.as("r_ellipsis_lines"), rAlpha.as("r_alpha_words"),
      rStop.as("r_stop_words"),
      (rWc && rMwl && rSym && rBullet && rEllipsis && rAlpha && rStop)
        .as("pass"))
  }

  /** A gram's bucket, `pmod(portable_hash60(gram), buckets)` — the
    * dedup signature families' md5-derived hash, so the DuckDB oracle
    * replays the bucketing digit-for-digit. */
  private def gramBucket(gram: Column, buckets: Int): Column =
    pmod(TextFns.portable_hash60(gram), lit(buckets.toLong))

  /** Hashed n-gram occurrences: one row per unigram + bigram occurrence,
    * mapped to its [[gramBucket]]. Empty docs emit nothing (restored by
    * the left join in [[importanceWeights]]). */
  private def hashedGrams(df: DataFrame, id: Column, text: Column,
                          buckets: Int): DataFrame =
    df.select(id.as("doc_id"),
      explode(concat(TextFns.word_grams(text, 1), TextFns.word_grams(text, 2)))
        .as("gram"))
      .select(col("doc_id"), gramBucket(col("gram"), buckets).as("b"))

  /** Per-bucket importance scorecard: for every bucket seen in either
    * corpus, the integer bit-score
    * `floorlog2((Nraw+B) div (craw+1)) - floorlog2((Ntgt+B) div (ctgt+1))`
    * — add-one smoothed surprisal under RAW minus surprisal under
    * TARGET. Positive = the bucket is characteristic of the target.
    * ≤ `buckets` rows; built once and broadcast by callers. */
  private def bucketScores(rawG: DataFrame, tgtG: DataFrame,
                           buckets: Int): DataFrame = {
    // ≤`buckets` rows each, LAZY on purpose: the totals below derive
    // from these frames, and within one job Catalyst reuses the count
    // exchange (ReusedExchange), so each corpus's gram stream is folded
    // once — an eager checkpoint here would serialize the plan into
    // per-frame jobs and forfeit that reuse (measured 10× worse)
    def counts(g: DataFrame, cnt: String): DataFrame =
      g.groupBy("b").agg(count(lit(1)).as(cnt))
    // floor(log2(x)) as integer division + binary-string length — the
    // same exact recipe as TextCorpus.unigramSurprisal
    def bits(total: String, c: String): String =
      s"length(bin(($total + ${buckets.toLong}) div (coalesce($c, 0L) + 1L))) - 1"
    val rc = counts(rawG, "craw")
    val tc = counts(tgtG, "ctgt")
    val nr = rc.agg(coalesce(sum("craw"), lit(0L)).as("nraw"))
    val nt = tc.agg(coalesce(sum("ctgt"), lit(0L)).as("ntgt"))
    rc.join(tc, Seq("b"), "full")
      .crossJoin(broadcast(nr)).crossJoin(broadcast(nt))
      .select(col("b"),
        (expr(bits("nraw", "craw")) - expr(bits("ntgt", "ctgt")))
          .cast("long").as("score"))
  }

  /** DSIR-style importance weight per RAW document: the sum over its
    * gram occurrences of the bucket's target-vs-raw bit-score. Returns
    * `(doc_id, n_grams, weight)` for EVERY raw doc (empty docs weigh 0).
    *
    * One gram-keyed exchange per corpus builds the bucket counts; the
    * ≤`buckets`-row scorecard broadcasts back into the raw gram stream,
    * and the per-doc reduce is map-side partial. Nothing driver-side. */
  def importanceWeights(raw: DataFrame, target: DataFrame,
                        id: Column, text: Column,
                        buckets: Int = 512): DataFrame = {
    require(buckets > 0, s"buckets: $buckets")
    val rawG = hashedGrams(raw, id, text, buckets)
    val tgtG = hashedGrams(target, id, text, buckets)
    val scores = bucketScores(rawG, tgtG, buckets)
    val perDoc = rawG.join(broadcast(scores), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(col("score")).as("weight"))
    raw.select(id.as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("weight"), lit(0L)).as("weight"))
  }

  /** Distribution DRIFT between two corpus snapshots — the monitoring
    * complement of [[graft.ops.Integrity.snapshotDiff]] (which finds
    * changed ROWS; this finds changed LANGUAGE): hashed-gram bucket
    * frequencies for both snapshots plus the integer bit-score
    * `floorlog2((Nb+B) div (cb+1)) − floorlog2((Na+B) div (ca+1))` per
    * bucket — positive = the bucket got more common, and |score| ≥ 1
    * means its add-one-smoothed frequency moved by ≥ 2×. Returns one
    * row per bucket seen in either snapshot: `(b, c_before, c_after,
    * drift_bits)` — ≤ `buckets` rows, so the monitoring output is
    * fixed-size no matter the corpus.
    *
    * Both snapshots are FILTERS of ONE corpus (`beforeCond`,
    * `afterCond`) — the monitoring loop's usual shape (today's corpus
    * vs yesterday's is a predicate over one store, and the populations
    * overlap heavily): ONE tokenize+gram+hash pass over `beforeCond OR
    * afterCond` with per-row membership flags, counted conditionally
    * per bucket, instead of two full gram pipelines (guide §1.2 — the
    * gram construction dominates this operator, measured round 19:
    * m8_corpus_drift spent ~2× the gram cost for ~53% shared rows).
    * Totals derive from the one bucket-keyed count frame. */
  def distributionDrift(corpus: DataFrame,
                        beforeCond: Column, afterCond: Column,
                        text: Column,
                        buckets: Int = 512): DataFrame = {
    require(buckets > 0, s"buckets: $buckets")
    val g = corpus.filter(beforeCond || afterCond)
      .select(beforeCond.as("in_b"), afterCond.as("in_a"),
        explode(concat(TextFns.word_grams(text, 1),
          TextFns.word_grams(text, 2))).as("gram"))
      .select(col("in_b"), col("in_a"), gramBucket(col("gram"), buckets).as("b"))
    def bits(total: String, c: String): String =
      s"length(bin(($total + ${buckets.toLong}) div (coalesce($c, 0L) + 1L))) - 1"
    val both = g.groupBy("b").agg(
      count(when(col("in_b"), lit(1))).as("c_before"),
      count(when(col("in_a"), lit(1))).as("c_after"))
    val totals = both.agg(
      coalesce(sum("c_before"), lit(0L)).as("nb"),
      coalesce(sum("c_after"), lit(0L)).as("na"))
    both.crossJoin(broadcast(totals))
      .select(col("b"), col("c_before"), col("c_after"),
        (expr(bits("nb", "c_before")) - expr(bits("na", "c_after")))
          .cast("long").as("drift_bits"))
  }

  /** Top-`keepNum/keepDen` resample of the raw corpus by importance
    * weight, ties broken by the smaller doc_id — the deterministic
    * variant of DSIR's Gumbel-top-k draw. `k = ceil(n * keepNum /
    * keepDen)` in exact integer arithmetic.
    *
    * The cut never sorts the corpus: an integer weight HISTOGRAM
    * (distinct weight values — thousands of rows at any corpus size,
    * since weights are bit-counts bounded by tokens×log2(vocab)) yields
    * the full-keep weight classes and the single boundary class; only
    * the boundary class pays a rank, partitioned to one weight value.
    * Returns the selected `(doc_id, n_grams, weight)` rows. */
  def importanceResample(raw: DataFrame, target: DataFrame,
                         id: Column, text: Column,
                         buckets: Int = 512,
                         keepNum: Int = 1, keepDen: Int = 4): DataFrame = {
    require(keepNum >= 0 && keepDen > 0, s"keep: $keepNum/$keepDen")
    // four consumers (k, histogram, full-keep join, boundary join) —
    // without the persist the whole gram pipeline would replay per branch
    val w = importanceWeights(raw, target, id, text, buckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kRow = w.agg(
      expr(s"(count(1) * $keepNum + ${keepDen - 1}) div $keepDen").as("k"))
    val hist = w.groupBy("weight").agg(count(lit(1)).as("cnt"))
      // the running total over the tiny histogram frame is the one
      // intentionally-unpartitioned window here (≤ distinct weights rows)
      .withColumn("cum", sum(col("cnt")).over(
        Window.orderBy(col("weight").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(kRow))
    val fullKeep = hist.filter(col("cum") <= col("k")).select("weight")
    val boundary = hist
      .filter(col("cum") > col("k") && col("cum") - col("cnt") < col("k"))
      .select(col("weight").as("bweight"),
        (col("k") - (col("cum") - col("cnt"))).as("rem"))
    val kept = w.join(broadcast(fullKeep), Seq("weight"))
    val tie = w.join(broadcast(boundary), col("weight") === col("bweight"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("weight")).orderBy(col("doc_id"))))
      .filter(col("rn") <= col("rem"))
      .select("weight", "doc_id", "n_grams")
    // materialize the (selected-set-sized) result eagerly so the weight
    // cache can be released before return — no relation leaks into a
    // long-lived session
    val out = kept.unionByName(tie)
      .select("doc_id", "n_grams", "weight").localCheckpoint()
    w.unpersist()
    out
  }
}
