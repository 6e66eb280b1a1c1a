package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Selection

/** Training-data SELECTION demos over `documents` (north-star M8 scope):
  * the Gopher-style composite quality-rule filter and DSIR-style
  * importance resampling. Both are integer-exact end to end (cross-
  * multiplied ratio thresholds; floor-log2 bit-score weights), so the
  * DuckDB oracle hash-compares every counter, rule verdict, weight, and
  * the resampled set bit-for-bit. */
object SelectionQueries extends QueryModule {

  /** The synthetic corpus's function words (the published Gopher stop
    * set is English prose; this corpus's common tokens differ). The
    * rule stays "≥2 distinct function words present". */
  private val Stop = Seq("the", "a", "and", "of", "to", "is", "that", "with")

  private val StopSqlList = Stop.map(w => s"'$w'").mkString("[", ", ", "]")

  private def qualityRules(s: SparkSession, dir: String): DataFrame =
    Selection.qualityRules(Tables.spread(Tables.documents(s, dir)),
      col("doc_id"), col("text"), Stop)

  private val qualityRulesSql =
    s"""WITH d AS (
       |  SELECT doc_id, text, coalesce(trim(text), '') AS t,
       |    CASE WHEN coalesce(trim(text), '') = '' THEN []::VARCHAR[]
       |         ELSE string_split_regex(trim(text), '\\s+') END AS toks,
       |    CASE WHEN coalesce(trim(text), '') = '' THEN []::VARCHAR[]
       |         ELSE string_split(text, chr(10)) END AS lns
       |  FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    CAST(length(regexp_replace(t, '\\s+', '', 'g')) AS BIGINT) AS n_word_chars,
       |    CAST(len(regexp_extract_all(t, '#|\\.\\.\\.')) AS BIGINT) AS n_symbols,
       |    CAST(len(lns) AS BIGINT) AS n_lines,
       |    CAST(len(list_filter(lns, x -> starts_with(ltrim(x), '-')
       |      OR starts_with(ltrim(x), '*')
       |      OR starts_with(ltrim(x), '•'))) AS BIGINT) AS n_bullet_lines,
       |    CAST(len(list_filter(lns, x -> ends_with(rtrim(x), '...')
       |      OR ends_with(rtrim(x), '…'))) AS BIGINT) AS n_ellipsis_lines,
       |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
       |      AS BIGINT) AS n_alpha_words,
       |    CAST(len(list_intersect(list_transform(toks, x -> lower(x)),
       |      $StopSqlList)) AS BIGINT) AS n_stop_hits
       |  FROM d)
       |SELECT doc_id, n_words, n_word_chars, n_symbols, n_lines,
       |  n_bullet_lines, n_ellipsis_lines, n_alpha_words, n_stop_hits,
       |  (n_words BETWEEN 50 AND 100000) AS r_word_count,
       |  (n_words > 0 AND n_word_chars >= 3*n_words
       |     AND n_word_chars <= 10*n_words) AS r_mean_word_len,
       |  (10*n_symbols <= n_words) AS r_symbol_ratio,
       |  (10*n_bullet_lines <= 9*n_lines) AS r_bullet_lines,
       |  (10*n_ellipsis_lines <= 3*n_lines) AS r_ellipsis_lines,
       |  (5*n_alpha_words >= 4*n_words) AS r_alpha_words,
       |  (n_stop_hits >= 2) AS r_stop_words,
       |  ((n_words BETWEEN 50 AND 100000)
       |    AND (n_words > 0 AND n_word_chars >= 3*n_words
       |         AND n_word_chars <= 10*n_words)
       |    AND (10*n_symbols <= n_words)
       |    AND (10*n_bullet_lines <= 9*n_lines)
       |    AND (10*n_ellipsis_lines <= 3*n_lines)
       |    AND (5*n_alpha_words >= 4*n_words)
       |    AND (n_stop_hits >= 2)) AS pass
       |FROM c""".stripMargin

  private val Buckets = 512

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))

  private def target(s: SparkSession, dir: String): DataFrame =
    // spread like docs(): the target side feeds the same gram-explode
    // pipeline, and an unspread single-file scan serializes it on one
    // core (Tables.spread doc)
    Tables.spread(Tables.documents(s, dir).filter(col("lang") === "en"))

  private def importanceWeights(s: SparkSession, dir: String): DataFrame =
    Selection.importanceWeights(docs(s, dir), target(s, dir),
      col("doc_id"), col("text"), Buckets)

  /** ONE builder for the DSIR oracle CTE chain, shared by the weights,
    * resample, and capstone oracles so the replica can never drift
    * between them: token/gram/bucket streams for the RAW (`rawFrom`)
    * and TARGET (`tgtFrom`) corpora, the per-bucket bit-score
    * scorecard, the per-doc reduce, and `w` — weights restored over
    * `restoreFrom` (alias `s2`) with `restoreExtra` columns carried. */
  /** Token-array CTE over a doc-producing SELECT (engine replica of
    * the trim/split word_grams precondition). */
  private def toks(out: String, from: String) =
    s"""$out AS (
       |  SELECT doc_id,
       |    CASE WHEN coalesce(trim(text), '') = '' THEN []::VARCHAR[]
       |         ELSE string_split_regex(trim(text), '\\s+') END AS toks
       |  FROM ($from))""".stripMargin

  /** Unigram+bigram stream CTE (engine replica of word_grams(1)++(2)). */
  private def grams(out: String, rel: String) =
    s"""$out AS (
       |  SELECT doc_id, unnest(
       |    toks || CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
       |      ELSE [array_to_string(toks[i:i+1], ' ')
       |            for i in generate_series(1, len(toks) - 1)] END
       |  ) AS gram FROM $rel)""".stripMargin

  private def dsirCtes(rawFrom: String, tgtFrom: String,
                       restoreFrom: String, restoreExtra: String): String = {
    val h = Dsl.hex60Sql("gram")
    s"""${toks("ds", rawFrom)},
       |${toks("dt", tgtFrom)},
       |${grams("g", "ds")},
       |${grams("gt", "dt")},
       |bg AS (SELECT doc_id, $h % $Buckets AS b FROM g),
       |bt AS (SELECT doc_id, $h % $Buckets AS b FROM gt),
       |rc AS (SELECT b, COUNT(*) AS craw FROM bg GROUP BY 1),
       |tc AS (SELECT b, COUNT(*) AS ctgt FROM bt GROUP BY 1),
       |nr AS (SELECT COALESCE(SUM(craw), 0) AS nraw FROM rc),
       |nt AS (SELECT COALESCE(SUM(ctgt), 0) AS ntgt FROM tc),
       |sc AS (
       |  SELECT b, CAST(
       |      (length(bin((nraw + $Buckets) // (COALESCE(craw, 0) + 1))) - 1)
       |    - (length(bin((ntgt + $Buckets) // (COALESCE(ctgt, 0) + 1))) - 1)
       |    AS BIGINT) AS score
       |  FROM rc FULL JOIN tc USING (b) CROSS JOIN nr CROSS JOIN nt),
       |p AS (
       |  SELECT doc_id, COUNT(*) AS n_grams,
       |    CAST(SUM(score) AS BIGINT) AS weight
       |  FROM bg JOIN sc USING (b) GROUP BY 1),
       |w AS (
       |  SELECT s2.doc_id$restoreExtra, COALESCE(p.n_grams, 0) AS n_grams,
       |    COALESCE(p.weight, 0) AS weight
       |  FROM $restoreFrom s2 LEFT JOIN p USING (doc_id))""".stripMargin
  }

  /** The weights/resample instantiation: raw = the whole corpus,
    * target = lang='en'. */
  private val weightsCtes = dsirCtes(
    "SELECT doc_id, text FROM documents",
    "SELECT doc_id, text FROM documents WHERE lang = 'en'",
    "documents", "")

  private val importanceWeightsSql =
    s"""WITH $weightsCtes
       |SELECT doc_id, n_grams, weight FROM w""".stripMargin

  private def importanceResample(s: SparkSession, dir: String): DataFrame =
    Selection.importanceResample(docs(s, dir), target(s, dir),
      col("doc_id"), col("text"), Buckets, keepNum = 1, keepDen = 4)

  /** The oracle states the top-k semantics directly (rank by weight
    * DESC, doc_id); the engine's histogram-threshold mechanics must land
    * on the identical set. */
  private val importanceResampleSql =
    s"""WITH $weightsCtes,
       |n AS (SELECT COUNT(*) AS n FROM w),
       |k AS (SELECT (n * 1 + 3) // 4 AS k FROM n),
       |r AS (
       |  SELECT doc_id, n_grams, weight,
       |    ROW_NUMBER() OVER (ORDER BY weight DESC, doc_id) AS rn
       |  FROM w)
       |SELECT doc_id, n_grams, weight FROM r CROSS JOIN k WHERE rn <= k""".stripMargin

  /** The SELECTION-pipeline capstone — the composed path a curated
    * pretraining subset actually takes, each stage one of this round's
    * operators: Gopher-rule gate (structural quality) → DSIR top-half
    * resample among survivors (distributional fit to the lang='en'
    * target) → ≤8 docs per source (stable hash draw, so no source
    * dominates). Output: the per-source manifest (n docs, total grams,
    * summed weight) — the counts a training-mix config consumes.
    *
    * Every stage is the already-gated machinery (rules verdicts, weight
    * histogram cut, capPerGroup), so the capstone certifies the
    * COMPOSITION: rule survivors feed the resample's k (k = ceil(n/2)
    * of the survivor count, not the corpus), and the cap draws from the
    * resampled set. */
  private def selectionExport(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sampling
    val d = docs(s, dir)
    val passed = Selection.qualityRules(d, col("doc_id"), col("text"), Stop)
      .filter(col("pass")).select("doc_id")
    val survivors = d.join(passed, Seq("doc_id"))
    val picked = Selection.importanceResample(survivors, target(s, dir),
      col("doc_id"), col("text"), Buckets, keepNum = 1, keepDen = 2)
    val capped = Sampling.capPerGroup(
      picked.join(d.select(col("doc_id"), col("source")), Seq("doc_id")),
      col("source"), col("doc_id"), 8, "selexp")
    capped.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("n_grams").as("total_grams"),
      sum("weight").as("total_weight"))
  }

  /** Oracle: the rules CTE filtered to pass, the weights CTEs over the
    * SURVIVOR corpus (raw = survivors; target = lang='en' over the FULL
    * corpus, matching the engine), rank-select k = ceil(n_survivors/2),
    * an ≤8-per-source hash draw, and the per-source rollup. */
  private val selectionExportSql = {
    val capCoord = Dsl.hex60Sql("'selexp|' || doc_id::VARCHAR")
    s"""WITH rules AS ($qualityRulesSql),
       |surv AS (
       |  SELECT d.doc_id, d.lang, d.source, d.text
       |  FROM documents d JOIN rules r ON r.doc_id = d.doc_id AND r.pass),
       |${dsirCtes("SELECT doc_id, text FROM surv",
                   "SELECT doc_id, text FROM documents WHERE lang = 'en'",
                   "surv", ", s2.source")},
       |n AS (SELECT COUNT(*) AS n FROM w),
       |k AS (SELECT (n * 1 + 1) // 2 AS k FROM n),
       |r AS (
       |  SELECT doc_id, source, n_grams, weight,
       |    ROW_NUMBER() OVER (ORDER BY weight DESC, doc_id) AS rn
       |  FROM w),
       |picked AS (
       |  SELECT doc_id, source, n_grams, weight
       |  FROM r CROSS JOIN k WHERE rn <= k),
       |capped AS (
       |  SELECT doc_id, source, n_grams, weight FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY $capCoord) AS crn
       |    FROM picked) WHERE crn <= 8)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(n_grams) AS BIGINT) AS total_grams,
       |  CAST(SUM(weight) AS BIGINT) AS total_weight
       |FROM capped GROUP BY 1""".stripMargin
  }

  /** Corpus-drift monitor on synthetic snapshots: BEFORE = doc_id%3≠0,
    * AFTER = doc_id%5≠0 — overlapping populations with different source
    * mixes, so both count columns and the bit-score move. Output is the
    * fixed-size per-bucket scorecard (≤512 rows at any corpus size). */
  private def corpusDrift(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.spread(Tables.documents(s, dir))
    // both snapshots are predicates over ONE corpus and overlap on
    // ~8/15 of it: the one gram pass grams each shared doc once
    Selection.distributionDrift(d,
      col("doc_id") % 3 =!= 0, col("doc_id") % 5 =!= 0,
      col("text"), Buckets)
  }

  private val corpusDriftSql = {
    val h = Dsl.hex60Sql("gram")
    s"""WITH ${toks("db", "SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0")},
       |${toks("da", "SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0")},
       |${grams("gb", "db")},
       |${grams("ga", "da")},
       |bb AS (SELECT $h % $Buckets AS b FROM gb),
       |ba AS (SELECT $h % $Buckets AS b FROM ga),
       |bc AS (SELECT b, COUNT(*) AS c_before FROM bb GROUP BY 1),
       |ac AS (SELECT b, COUNT(*) AS c_after FROM ba GROUP BY 1),
       |nb AS (SELECT COALESCE(SUM(c_before), 0) AS nb FROM bc),
       |na AS (SELECT COALESCE(SUM(c_after), 0) AS na FROM ac)
       |SELECT b,
       |  COALESCE(c_before, 0) AS c_before,
       |  COALESCE(c_after, 0) AS c_after,
       |  CAST(
       |      (length(bin((nb + $Buckets) // (COALESCE(c_before, 0) + 1))) - 1)
       |    - (length(bin((na + $Buckets) // (COALESCE(c_after, 0) + 1))) - 1)
       |    AS BIGINT) AS drift_bits
       |FROM bc FULL JOIN ac USING (b) CROSS JOIN nb CROSS JOIN na""".stripMargin
  }

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m8_quality_rules"       -> qualityRules _,
    "m8_importance_weights"  -> importanceWeights _,
    "m8_importance_resample" -> importanceResample _,
    "m8_selection_export"    -> selectionExport _,
    "m8_corpus_drift"        -> corpusDrift _)

  def oracles: Map[String, String] = Map(
    "m8_quality_rules"       -> qualityRulesSql,
    "m8_importance_weights"  -> importanceWeightsSql,
    "m8_importance_resample" -> importanceResampleSql,
    "m8_selection_export"    -> selectionExportSql,
    "m8_corpus_drift"        -> corpusDriftSql)
}
