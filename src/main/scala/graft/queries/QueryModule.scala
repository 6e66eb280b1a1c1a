package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** A named bundle of driver-contract queries plus their DuckDB oracle SQL.
  *
  * Contract (SparkEntry): each query is `(spark, sfDir) => DataFrame`; the
  * oracle is ANSI SQL DuckDB runs over the same parquet tables. Column names
  * must match exactly (the driver sorts columns by name before hashing).
  */
trait QueryModule {
  def all: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}

/** Shared helpers for oracle-exact arithmetic.
  *
  * Sums of doubles are order-dependent, so a Spark shuffle-order sum will
  * not hash-match DuckDB's. We cast to decimal *per row* first (the source
  * values carry <=2 decimal digits; derived products carry <=4), making the
  * aggregation exact and engine-order-independent on both sides.
  */
object Dsl {
  /** Fresh temp dir for queries that materialize a layout under test
    * (CSV sheets, queues, partitioned/bucketed/compacted parquet). It is
    * removed, with everything under it, when the JVM exits: a query's
    * frame may read it until then. */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(dir)
    dir.toString
  }

  /** Every [[tempDir]] of this JVM; one shutdown hook deletes them all. */
  private lazy val tempDirs = {
    val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
    sys.addShutdownHook(dirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d)))
    dirs
  }

  /** Exact 2-decimal sum: matches SQL `SUM(CAST(x AS DECIMAL(18,2)))`. */
  def dsum2(c: Column): Column = sum(c.cast(DecimalType(18, 2)))
  /** Exact 4-decimal sum for price*(1-disc)-style products. */
  def dsum4(c: Column): Column = sum(c.cast(DecimalType(18, 4)))
  /** Deterministic double average: exact decimal sum, then one double
    * division — bit-identical to `CAST(SUM(dec) AS DOUBLE)/COUNT(*)`. */
  def davg2(c: Column): Column = dsum2(c).cast("double") / count(lit(1))
  /** Contract-boundary sums: exact decimal accumulation, final-cast to
    * DOUBLE so the emitted dtype is unambiguous across engines (Spark
    * widens SUM(DECIMAL(18,x)) to DECIMAL(28,x), DuckDB to DECIMAL(38,x);
    * the driver's hash layer must see one canonical type). The cast is
    * lossless here: sums stay well under 2^53 at any tested SF and the
    * IEEE round-to-nearest of an exact decimal is identical in both
    * engines. Matches SQL `CAST(SUM(CAST(x AS DECIMAL(18,n))) AS DOUBLE)`. */
  def dsum2d(c: Column): Column = dsum2(c).cast("double")
  def dsum4d(c: Column): Column = dsum4(c).cast("double")

  /** DuckDB-side replica of [[graft.functions.TextFns.portable_hash60]]:
    * the first 15 hex chars of md5(`expr`) as a BIGINT, via positional
    * hex-digit arithmetic with integer shifts (a `16^k` power would go
    * through DOUBLE and lose exactness above 2^53). Values < 2^60 fit a
    * BIGINT with no overflow. */
  def hex60Sql(expr: String): String =
    s"CAST(list_sum([(strpos('0123456789abcdef', md5($expr)[i]) - 1)::BIGINT" +
      " << (4*(15-i)) for i in generate_series(1,15)]) AS BIGINT)"

  /** Value of hex chars [start, start+len) of an ALREADY-COMPUTED hex
    * string column, as a BIGINT — the building block for deriving several
    * independent hash values from one md5 digest (DuckDB-side replica of
    * [[graft.expressions.PortableMinHashes]]'s h1/h2 extraction). */
  def hexValSql(hexCol: String, start: Int, len: Int): String =
    s"CAST(list_sum([(strpos('0123456789abcdef', $hexCol[i]) - 1)::BIGINT" +
      s" << (4*(${start + len - 1}-i)) for i in generate_series($start,${start + len - 1})]) AS BIGINT)"

  /** The documents→distinct word-3-shingles CTE body shared by the dedup
    * oracles (mirrors `TextFns.word_shingles`: distinct 3-word windows,
    * whole trimmed text when shorter than 3 tokens). Emits CTEs `docs`
    * and `sh(doc_id, shingle)`. */
  val shinglesCte: String = shinglesCteW(3)

  /** Same CTE with a chosen shingle width `w` (mirrors
    * `TextFns.word_shingles(text, w)`); `src` lets a sampled oracle
    * swap the document source for a filtered CTE. */
  def shinglesCteW(w: Int, src: String = "documents"): String =
    s"""docs AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks, text
       |  FROM $src),
       |sh AS (
       |  SELECT DISTINCT doc_id, shingle
       |  FROM docs, unnest(
       |    CASE WHEN len(toks) < $w THEN [trim(text)]
       |         ELSE [array_to_string(toks[i:i+${w - 1}], ' ')
       |               for i in generate_series(1, len(toks) - ${w - 1})] END
       |  ) AS u(shingle))""".stripMargin
}
