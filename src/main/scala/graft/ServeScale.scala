package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maintained-store SERVE wall at a scale decade (round-14 verdict task
  * #6): the `t14_postings_maintain` shape — three corpus-third waves
  * drained through [[graft.streaming.PostingsStream.maintainPostings]],
  * a keepBatches=1 fold, and the `m8_bm25_search`-recipe serve — but
  * with each wave drained as its OWN AvailableNow run against one
  * shared checkpoint, so the per-batch cost curve is measured directly
  * (a flat curve is the lifetime-scaling claim: wave i must not pay for
  * waves < i). Correctness at the decades is already hash-gated
  * (`m8_bm25_search` stratum 10×/100×; the serve arithmetic is
  * identical by construction) — this main records the WALL numbers for
  * BASELINE.md.
  *
  *   sbt "runMain graft.ServeScale /tmp/sf1x"
  *
  * Prints one JSON line: per-wave drain seconds, fold seconds, serve
  * seconds (pre- and post-fold, full result drained through noop). */
object ServeScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1x")
    val mode = args.drop(1).headOption.getOrElse("postings")
    val spark = GraftSession()
    import graft.streaming.PostingsStream

    def secs[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def drain(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // `ann` mode: the AnnIndex lifecycle walls — init (train + encode
    // the standing 80%), three maintenance drains of the delta, a serve,
    // the refresh (retrain + re-encode EVERYTHING + swap), and a
    // post-refresh serve. Refresh is the number that matters: it is the
    // full-rebuild cost an operator pays to recover recall under drift,
    // and it should scale like one ivfBuildQuantized over the corpus.
    if (mode == "ann") {
      import graft.streaming.AnnIndex
      val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
      val n = emb.count()
      val root = java.nio.file.Files.createTempDirectory("svsc_ann").toString
      val (_, initSecs) = secs {
        AnnIndex.init(spark, root, emb.filter(col("vec_id") % 5 =!= 4),
          nlist = 16, lloydIters = 2)
      }
      val watch = java.nio.file.Files.createTempDirectory("svsc_annw").toString
      val base = System.currentTimeMillis() - 3600L * 1000
      (0 until 3).foreach { i =>
        val stage =
          java.nio.file.Files.createTempDirectory("svsc_anns").toString
        emb.filter(col("vec_id") % 5 === 4 && col("vec_id") % 3 === i)
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dest = new java.io.File(watch, s"b$i.parquet")
        java.nio.file.Files.move(part.toPath, dest.toPath)
        dest.setLastModified(base + i * 2000L)
      }
      val stream = spark.readStream
        .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1").parquet(watch)
      val (_, drainSecs) = secs {
        AnnIndex.maintain(stream, root,
          java.nio.file.Files.createTempDirectory("svsc_annc").toString)
          .awaitTermination()
      }
      val queries = emb.filter(col("vec_id") < 32)
      val (_, serve1) = secs {
        drain(AnnIndex.serve(spark, root, queries, emb, 5, nprobe = 4))
      }
      val (_, refreshSecs) = secs {
        AnnIndex.refresh(spark, root, emb, nlist = 16, lloydIters = 2)
      }
      val (_, serve2) = secs {
        drain(AnnIndex.serve(spark, root, queries, emb, 5, nprobe = 4))
      }
      // drift-monitor overhead: a warmed unmonitored drain vs a warmed
      // monitored one (never-triggering threshold), fresh index each —
      // the per-batch residual statistic should be ~free (one agg over
      // the persisted batch-sized assignment, a by-product of encode)
      def drainAt(policy: Option[AnnIndex.RefreshPolicy]): Double = {
        val r = java.nio.file.Files.createTempDirectory("svsc_annm").toString
        AnnIndex.init(spark, r, emb.filter(col("vec_id") % 5 =!= 4),
          nlist = 16, lloydIters = 2)
        val st = spark.readStream
          .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
          .option("maxFilesPerTrigger", "1").parquet(watch)
        val (_, s2) = secs {
          AnnIndex.maintain(st, r,
            java.nio.file.Files.createTempDirectory("svsc_annmc").toString,
            refreshPolicy = policy).awaitTermination()
        }
        s2
      }
      val drainUnmon = drainAt(None)
      val drainMon = drainAt(Some(AnnIndex.RefreshPolicy(1e9, AnnIndex.PinnedCorpus(emb))))
      def fmt(d: Double) =
        String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
      println(s"""{"sf":"$sfDir","mode":"ann","n_vecs":$n,""" +
        s""""init_secs":${fmt(initSecs)},"drain_secs":${fmt(drainSecs)},""" +
        s""""serve_stale_secs":${fmt(serve1)},""" +
        s""""refresh_secs":${fmt(refreshSecs)},""" +
        s""""serve_refreshed_secs":${fmt(serve2)},""" +
        s""""drain_unmonitored_secs":${fmt(drainUnmon)},""" +
        s""""drain_monitored_secs":${fmt(drainMon)}}""")
      spark.stop()
      return
    }

    // `positional` mode: the slop-operator serve walls (round-15
    // verdict task #7) — the T15/T20 store shape (positions = true),
    // three waves drained as separate AvailableNow runs, then all four
    // retrieval modes served pre- and post-fold. proximity/NEAR ride
    // the same tp rows as phrase but fan each occurrence out ×(slop+1)
    // anchor votes (ordered) / ×(n_terms+slop) window votes (unordered)
    // — the one scaling term the bm25/phrase walls don't measure.
    if (mode == "positional") {
      import graft.streaming.PostingsStream
      val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      val nDocs = docs.count()
      val watch = java.nio.file.Files.createTempDirectory("svsc_pwatch").toString
      val root = java.nio.file.Files.createTempDirectory("svsc_proot").toString
      val base = System.currentTimeMillis() - 3600L * 1000
      def addWave(i: Int): Unit = {
        val stage =
          java.nio.file.Files.createTempDirectory("svsc_pstage").toString
        docs.filter(col("doc_id") % 3 === i)
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dest = new java.io.File(watch, s"b$i.parquet")
        java.nio.file.Files.move(part.toPath, dest.toPath)
        dest.setLastModified(base + i * 2000L)
      }
      val waveSecs = (0 until 3).map { i =>
        addWave(i)
        val stream = spark.readStream
          .schema("doc_id BIGINT, text STRING")
          .parquet(watch)
        val (_, s) = secs {
          PostingsStream.maintainPostings(stream, s"$root/index",
            s"$root/ckpt", positions = true).awaitTermination()
        }
        s
      }
      def queriesAt(from: Int, len: Int) = Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 251 === 7)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(trim(coalesce(col("text"), lit(""))),
            "\\s+"), from, len), " ").as("query_text"))
      val qBm = queriesAt(1, 4); val qPh = queriesAt(2, 3)
      val nQueries = qBm.count()
      def serveAll(): Map[String, Double] = Map(
        "bm25" -> secs {
          drain(PostingsStream.bm25Serve(spark, s"$root/index", qBm, 10))
        }._2,
        "phrase" -> secs {
          drain(PostingsStream.phraseServe(spark, s"$root/index", qPh, 10))
        }._2,
        "proximity" -> secs {
          drain(PostingsStream.proximityServe(spark, s"$root/index", qPh,
            10, slop = 2))
        }._2,
        "near" -> secs {
          drain(PostingsStream.nearServe(spark, s"$root/index", qPh,
            10, slop = 2))
        }._2)
      val pre = serveAll()
      val (rep, foldSecs) = secs {
        PostingsStream.compactIndex(spark, s"$root/index", keepBatches = 1)
      }
      val post = serveAll()
      def fmt(d: Double) =
        String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
      def m(mm: Map[String, Double]) =
        mm.toSeq.sortBy(_._1)
          .map { case (k2, v) => s""""$k2":${fmt(v)}""" }.mkString(",")
      println(s"""{"sf":"$sfDir","mode":"positional","n_docs":$nDocs,""" +
        s""""n_queries":$nQueries,""" +
        s""""wave_secs":[${waveSecs.map(fmt).mkString(",")}],""" +
        s""""fold_secs":${fmt(foldSecs)},"fold_base_rows":${rep.baseRows},""" +
        s""""serve_pre":{${m(pre)}},"serve_post":{${m(post)}}}""")
      spark.stop()
      return
    }

    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val nDocs = docs.count()
    val watch = java.nio.file.Files.createTempDirectory("svsc_watch").toString
    val root = java.nio.file.Files.createTempDirectory("svsc_root").toString
    val base = System.currentTimeMillis() - 3600L * 1000

    // one wave file staged per drain: the shared checkpoint hands each
    // AvailableNow run exactly the file added since the previous one
    def addWave(i: Int): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("svsc_stage").toString
      docs.filter(col("doc_id") % 3 === i)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(watch, s"b$i.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(base + i * 2000L)
    }

    val waveSecs = (0 until 3).map { i =>
      addWave(i)
      val stream = spark.readStream
        .schema("doc_id BIGINT, text STRING")
        .parquet(watch)
      val (_, s) = secs {
        PostingsStream.maintainPostings(stream, s"$root/index",
          s"$root/ckpt").awaitTermination()
      }
      s
    }
    val queries = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 251 === 7)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(coalesce(col("text"), lit(""))),
          "\\s+"), 1, 4), " ").as("query_text"))
    val nQueries = queries.count()
    val (_, servePre) = secs {
      drain(PostingsStream.bm25Serve(spark, s"$root/index", queries, 10))
    }
    val (rep, foldSecs) = secs {
      PostingsStream.compactIndex(spark, s"$root/index", keepBatches = 1)
    }
    val (_, servePost) = secs {
      drain(PostingsStream.bm25Serve(spark, s"$root/index", queries, 10))
    }
    def fmt(d: Double) =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    println(s"""{"sf":"$sfDir","n_docs":$nDocs,"n_queries":$nQueries,""" +
      s""""wave_secs":[${waveSecs.map(fmt).mkString(",")}],""" +
      s""""fold_secs":${fmt(foldSecs)},"fold_base_rows":${rep.baseRows},""" +
      s""""serve_pre_fold_secs":${fmt(servePre)},""" +
      s""""serve_post_fold_secs":${fmt(servePost)}}""")
    spark.stop()
  }
}
