package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional trailing args: run only these queries (local iteration).
    val only: Set[String] = args.drop(2).toSet
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // Contract-boundary timestamp canonicalization: session TZ is UTC, so
    // LTZ→NTZ is an identity on the stored micros, and NTZ parquet reads
    // back as naive timestamp[us] — exactly the type DuckDB's oracle
    // produces. (LTZ columns would write isAdjustedToUTC=true and surface
    // tz-aware at the driver's compare layer.)
    def ntz(df: DataFrame): DataFrame =
      df.schema.fields.foldLeft(df) { (d, f) =>
        if (f.dataType == TimestampType)
          d.withColumn(f.name, col(f.name).cast(TimestampNTZType))
        else d
      }
    val failedQueries = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // per-query cache hygiene (the Bench convention): queries that
      // persist() intermediates must not leak them into — or borrow
      // them from — other queries' runs
      spark.catalog.clearCache()
      try ntz(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // drop any output from a previous run: a stale result under this
        // name would read as a (possibly passing) dump of dead code.
        // Recursive: a failed lazy write can leave a _temporary/ subtree
        // that a flat listFiles+delete would silently skip.
        val stale = Paths.get(s"$outDir/$name")
        if (Files.exists(stale)) {
          val walk = Files.walk(stale)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.deleteIfExists(p))
          finally walk.close()
        }
        // Fail-closed: a crashed query must still leave an output, or the
        // downstream compare silently drops it from the suite and absence
        // reads as a pass. An EMPTY frame with a sentinel error column
        // fails every check class — rows_match (0 vs oracle), schema
        // (sentinel name), and the weaker rows-only gate for no-oracle
        // queries (0 rows) — so the breakage is recorded, never elided.
        try {
          import org.apache.spark.sql.types.{StructType, StructField, StringType}
          val sentinel = StructType(Seq(StructField("__graft_verify_error", StringType)))
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sentinel)
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name sentinel write failed: ${e2.getMessage}")
        }
        failedQueries += name
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Machine-readable failure roster next to the dumps, and a nonzero rc:
    // both layers of the gate fail closed on a crashed query.
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      failedQueries.map(q).mkString("[", ",", "]"))
    spark.stop()
    if (failedQueries.nonEmpty) {
      System.err.println(s"[verify] ${failedQueries.size} queries failed: " +
        failedQueries.mkString(", "))
      sys.exit(1)
    }
  }
}
