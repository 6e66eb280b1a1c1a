package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (north-star scope, SURVEY.md §7.1 M8): token counting, quality scoring,
  * language identification, shingling, document fingerprinting.
  *
  * All pure Catalyst expressions (codegen'd, embarrassingly parallel):
  * at 100 TB these run as a single projection over the scan with no
  * shuffle, so throughput is bounded by IO, not compute shape.
  */
object TextFns {

  /** Whitespace token count; 0 for blank/null text. */
  def token_count(text: Column): Column = {
    val t = trim(coalesce(text, lit("")))
    when(t === "", lit(0)).otherwise(size(split(t, "\\s+")))
  }

  /** BPE-ish subword count: letter runs, digit runs, and single
    * non-alphanumeric marks — a cheap proxy for tokenizer load. */
  def subword_count(text: Column): Column =
    size(regexp_extract_all(coalesce(text, lit("")),
      lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Count of matches of a word-alternation pattern in lowercased text. */
  private def wordHits(text: Column, words: Seq[String]): Column =
    size(regexp_extract_all(lower(coalesce(text, lit(""))),
      lit("\\b(" + words.mkString("|") + ")\\b"), lit(0)))

  val EnStop: Seq[String] = Seq("the", "and", "of", "to", "in", "a", "is")
  val EsStop: Seq[String] = Seq("el", "la", "de", "que", "y", "los", "es")
  val DeStop: Seq[String] = Seq("der", "die", "und", "das", "ist", "ein", "zu")
  val FrStop: Seq[String] = Seq("le", "la", "et", "les", "des", "un", "est")

  /** Stopword-hit language scores, exposed for the language_id argmax. */
  def lang_scores(text: Column): (Column, Column, Column, Column) =
    (wordHits(text, EnStop), wordHits(text, EsStop),
     wordHits(text, DeStop), wordHits(text, FrStop))

  /** N-gram-heuristic language ID: stopword-hit argmax over {en,es,de,fr}
    * with fixed priority on ties; 'und' when nothing matches. */
  def language_id(text: Column): Column = {
    val (en, es, de, fr) = lang_scores(text)
    val mx = greatest(en, es, de, fr)
    when(mx === 0, lit("und"))
      .when(en === mx, lit("en"))
      .when(es === mx, lit("es"))
      .when(de === mx, lit("de"))
      .otherwise(lit("fr"))
  }

  /** Document quality score in {0, 0.25, …, 1}: four independent indicator
    * checks (token volume, mean token length, punctuation density,
    * stopword presence). Indicator form keeps the score exactly
    * reproducible across engines (no float accumulation). */
  def quality_score(text: Column): Column = {
    val nTokens = token_count(text)
    val nChars = length(coalesce(text, lit("")))
    val punct = size(regexp_extract_all(coalesce(text, lit("")),
      lit("[\\p{Punct}]"), lit(0)))
    val stop = wordHits(text, EnStop)
    val avgLen = nChars.cast("double") / nTokens.cast("double")
    val iTokens = when(nTokens >= 5 && nTokens <= 5000, lit(0.25)).otherwise(lit(0.0))
    val iAvg = when(nTokens > 0 && avgLen >= 3.0 && avgLen <= 12.0, lit(0.25))
      .otherwise(lit(0.0))
    val iPunct = when(nChars > 0 &&
      punct.cast("double") / nChars.cast("double") < 0.1, lit(0.25))
      .otherwise(lit(0.0))
    val iStop = when(nTokens > 0 &&
      stop.cast("double") / nTokens.cast("double") > 0.01, lit(0.25))
      .otherwise(lit(0.0))
    iTokens + iAvg + iPunct + iStop
  }

  /** Word w-shingles (default 3-word) as an array column — the unit for
    * n-gram Jaccard and MinHash dedup. Fused kernel
    * ([[graft.expressions.TextShingles]]): the HOF formulation below is
    * the executable spec (TextShinglesSpec pins bit-parity). */
  def word_shingles(text: Column, w: Int = 3): Column =
    graft.expressions.TextShingles.word_shingles_fused(text, w)

  /** The HOF formulation [[word_shingles]] fused — kept as the
    * executable spec. */
  private[graft] def wordShinglesHof(text: Column, w: Int = 3): Column = {
    val tokens = split(trim(coalesce(text, lit(""))), "\\s+")
    val n = size(tokens)
    when(n < w, array_distinct(array(trim(coalesce(text, lit(""))))))
      .otherwise(array_distinct(transform(
        sequence(lit(0), n - w),
        i => array_join(slice(tokens, i + 1, lit(w)), " "))))
  }

  /** Word n-grams WITH multiplicity (unlike [[word_shingles]], which
    * dedups) — the unit for within-document repetition analysis, where
    * how often a gram repeats is the signal. Empty array when the text
    * has fewer than `w` tokens. Fused kernel; HOF spec below. */
  def word_grams(text: Column, w: Int): Column =
    graft.expressions.TextShingles.word_grams_fused(text, w)

  /** The HOF formulation [[word_grams]] fused — the executable spec. */
  private[graft] def wordGramsHof(text: Column, w: Int): Column = {
    val tokens = split(trim(coalesce(text, lit(""))), "\\s+")
    val n = size(tokens)
    when(trim(coalesce(text, lit(""))) === "" || n < w,
        array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), n - w),
        i => array_join(slice(tokens, i + 1, lit(w)), " ")))
  }

  /** Rolling-hash document fingerprint (winnowing-style): the minimum md5
    * over all k-char grams of the normalized text. md5 keeps the value
    * engine-reproducible. Fused kernel (no candidate-array
    * materialization); HOF spec below. */
  def doc_fingerprint(text: Column, k: Int = 8): Column =
    graft.expressions.TextShingles.doc_fingerprint_fused(text, k)

  /** The HOF formulation [[doc_fingerprint]] fused — the executable
    * spec. */
  private[graft] def docFingerprintHof(text: Column, k: Int = 8): Column = {
    val norm = lower(regexp_replace(trim(coalesce(text, lit(""))), "\\s+", " "))
    val n = length(norm)
    when(n === 0, lit(""))
      .when(n <= k, md5(norm.cast("binary")))
      .otherwise(array_min(transform(
        sequence(lit(1), n - k + 1),
        i => md5(norm.substr(i, lit(k)).cast("binary")))))
  }

  /** LSH band keys from a MinHash signature: per band, the band index
    * and that band's `rowsPerBand` signature slots rendered as one
    * string, so any engine can rebuild the exact key (the correctness
    * oracle does). Docs sharing any band key are near-dup candidates —
    * the join key that avoids the O(n²) compare. */
  def minhash_bands(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      concat_ws("|", lit(b) +:
        (0 until rowsPerBand).map(r => element_at(signature, b * rowsPerBand + r + 1)): _*)
    }: _*)

  /** Engine-portable 60-bit hash: the first 15 hex chars of md5(s) as a
    * long. Any engine with md5 recomputes it byte-identically (DuckDB:
    * positional hex-digit arithmetic, [[graft.queries.Dsl.hex60Sql]]) —
    * used by the correctness gate to replicate signature pipelines
    * exactly. Backed by the native codegen'd expression
    * [[graft.expressions.PortableHash60]] (digest bytes → long directly,
    * no hex render / string parse). SimHash and the hashed grams call
    * it directly; MinHash slots and hyperplane weights take the same
    * md5 prefix. */
  def portable_hash60(s: Column): Column =
    graft.expressions.PortableHash60.portable_hash60(s)

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}
