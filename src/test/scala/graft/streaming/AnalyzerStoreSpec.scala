package graft.streaming

import graft.queries.Dsl
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.TextCorpus
import graft.ops.TextCorpus.Analyzer

/** The analyzer as a whole-store mode: spec round trip, marker
  * enforcement (mismatches fail closed in both directions, empty-store
  * heal), and serve-side auto-analysis — a query served through an
  * analyzed store matches documents whatever surface form either side
  * used. The scoring-arithmetic parity is gated by
  * `m8_bm25_analyzed`. */
class AnalyzerStoreSpec extends SparkSpec {

  private def tmp(p: String) = Dsl.tempDir(p)

  private val an = Analyzer(lowercase = true, stripPunct = true,
    stopwords = Seq("the", "a"))

  test("spec serialization round-trips (order-pinned, versioned)") {
    // spec is the CANONICAL form (stopwords sorted), so the round trip
    // is on specs — two analyzers with reordered stopword lists are the
    // same mode and must collide to one marker string
    assert(Analyzer.parse(an.spec).spec === an.spec)
    assert(Analyzer(true, true, Seq("b", "a")).spec ===
      Analyzer(true, true, Seq("a", "b")).spec)
    assert(Analyzer.parse(Analyzer(false, false, Nil).spec) ===
      Analyzer(false, false, Nil))
    assertThrows[IllegalArgumentException] {
      Analyzer.parse("v99;whatever")
    }
  }

  test("analyzed tokenize folds case, breaks on punctuation, drops " +
       "stopwords — positions keep their original slots") {
    import spark.implicits._
    val d = Seq((1L, "The Big,Table. a ROW")).toDF("doc_id", "text")
    val words = TextCorpus.tokenize(d, col("doc_id"), col("text"), Some(an))
      .select("word").collect().map(_.getString(0)).sorted
    assert(words.toSeq === Seq("big", "row", "table"))
    val pos = TextCorpus.positional(d, col("doc_id"), col("text"),
        "doc_id", "pos", Some(an))
      .select("pos", "word").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    // "the big table a row" → slots 0..4; stopword slots stay EMPTY
    // (a phrase must not contract across a removed stopword)
    assert(pos === Set((1, "big"), (2, "table"), (4, "row")))
  }

  test("the store records its analyzer and serves queries through it") {
    import spark.implicits._
    val d = Seq((1L, "The QUICK, fox."), (2L, "a quick Fox jumps"),
      (3L, "slow turtle")).toDF("doc_id", "text")
    val store = tmp("anstore") + "/index"
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .parquet {
        val w = tmp("anwatch")
        d.coalesce(1).write.mode("overwrite").parquet(w); w
      }
    PostingsStream.maintainPostings(stream, store, tmp("anckpt"),
      analyzer = Some(an)).awaitTermination()
    assert(PostingsStream.storeAnalyzer(spark, store).map(_.spec) ===
      Some(an.spec))
    // the query arrives in a DIFFERENT surface form — serve analyzes it
    // through the stored spec, so it still matches both fox docs
    val q = Seq((7L, "QUICK! Fox")).toDF("query_id", "query_text")
    val got = PostingsStream.bm25Serve(spark, store, q, k = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 2L))
  }

  test("analyzer is a whole-store mode: mismatches fail closed both " +
       "ways; an empty marked store heals") {
    import spark.implicits._
    val d = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    def stream() = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .parquet {
        val w = tmp("anwatch")
        d.coalesce(1).write.mode("overwrite").parquet(w); w
      }
    // analyzed store, then a raw append: refuse
    val store = tmp("anmode") + "/index"
    PostingsStream.maintainPostings(stream(), store, tmp("anckpt"),
      analyzer = Some(an)).awaitTermination()
    assertThrows[IllegalArgumentException] {
      PostingsStream.maintainPostings(stream(), store, tmp("anckpt"))
    }
    // raw store, then an analyzed append: refuse
    val raw = tmp("anmode2") + "/index"
    PostingsStream.maintainPostings(stream(), raw, tmp("anckpt"))
      .awaitTermination()
    assertThrows[IllegalArgumentException] {
      PostingsStream.maintainPostings(stream(), raw, tmp("anckpt"),
        analyzer = Some(an))
    }
    // marker-only store (crashed before its first batch): a raw restart
    // heals instead of bricking
    val empty = tmp("anmode3") + "/index"
    val fs = new org.apache.hadoop.fs.Path(empty)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(empty))
    val out = fs.create(new org.apache.hadoop.fs.Path(empty, "_ANALYZER"), true)
    out.write(an.spec.getBytes("UTF-8")); out.close()
    PostingsStream.maintainPostings(stream(), empty, tmp("anckpt"))
      .awaitTermination()
    assert(PostingsStream.storeAnalyzer(spark, empty).isEmpty)
    assert(PostingsStream.bm25Serve(spark, empty,
      Seq((1L, "alpha")).toDF("query_id", "query_text"), 5).count() === 1)
    // marker-only store restarted with a DIFFERENT analyzer: the heal
    // must rewrite the marker to the new spec, not leave the stale one
    // silently describing batches indexed under the other analysis
    val empty2 = tmp("anmode4") + "/index"
    fs.mkdirs(new org.apache.hadoop.fs.Path(empty2))
    val out2 =
      fs.create(new org.apache.hadoop.fs.Path(empty2, "_ANALYZER"), true)
    out2.write(an.spec.getBytes("UTF-8")); out2.close()
    val other = Analyzer(lowercase = true, stripPunct = false,
      stopwords = Seq("beta"))
    PostingsStream.maintainPostings(stream(), empty2, tmp("anckpt"),
      analyzer = Some(other)).awaitTermination()
    assert(PostingsStream.storeAnalyzer(spark, empty2).map(_.spec) ===
      Some(other.spec))
    // "beta" is a stopword under the healed spec, so only "alpha" serves
    assert(PostingsStream.bm25Serve(spark, empty2,
      Seq((1L, "beta")).toDF("query_id", "query_text"), 5).count() === 0)
    assert(PostingsStream.bm25Serve(spark, empty2,
      Seq((1L, "alpha")).toDF("query_id", "query_text"), 5).count() === 1)
  }

  test("stopwords carrying spec delimiters or whitespace fail at " +
       "construction (they would corrupt the marker round trip)") {
    assertThrows[IllegalArgumentException] {
      Analyzer(true, true, Seq("ok", "bad;word"))
    }
    assertThrows[IllegalArgumentException] {
      Analyzer(true, true, Seq("bad|word"))
    }
    assertThrows[IllegalArgumentException] {
      Analyzer(true, true, Seq("bad word"))
    }
    assertThrows[IllegalArgumentException] { Analyzer(true, true, Seq("")) }
  }
}
