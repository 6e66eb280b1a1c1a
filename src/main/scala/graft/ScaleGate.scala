package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** At-scale correctness gate for the LSH/dedup families — the families
  * whose DuckDB oracle replicas explode (>50 GB of spill) on a full 10×
  * image, which left them skip rows in the round-11 scale artifact.
  *
  * Mechanism: the image carries a planted, enumerable near-dup STRATUM
  * (ids ≥ [[StratumBase]], disjoint token alphabet — see
  * [[ScaleUp.plantStratum]]). Every gated pair generator is
  * pairwise-local (a pair (a,b) is emitted iff a predicate of a and b
  * alone holds: shared band key, shared simhash block + Hamming bound,
  * shared shingles, shared hyperplane bucket + cosine), and the
  * stratum's token/id space is structurally unlinkable to the organic
  * corpus — so the FULL-image output restricted to stratum×stratum
  * pairs equals the same operator run on the stratum alone. The engine
  * therefore runs at full 10× scale (the thing being certified), while
  * the oracle replays only the ~600-doc stratum replica — explicit
  * hash-compared pass rows instead of skips, with DuckDB never touching
  * the organic pair space.
  *
  * Cluster-level text queries (connected components, survivors) stay
  * full-scale too: no cross-stratum edge can exist, so stratum
  * components and their min-id labels are identical in both runs. The
  * EMBEDDING cluster query is the one exception — an organic vector CAN
  * sit within cosine 0.4 of a planted one, bridging clusters — so
  * `m8_semantic_dedup` runs its pair stage at full scale, restricts the
  * pair set to the stratum, and runs the (separately sf-gated)
  * clustering tail on the restricted pairs.
  *
  * SIZED-PLANES handling (round 13): the embedding queries derive their
  * hyperplane count from the LIVE corpus size ([[graft.dedup.Dedup
  * .choosePlanes]]), which differs by construction between the full
  * image and the ~600-vector stratum replica — so their oracle SQL is
  * OVERRIDDEN here with a `p` CTE pinning the plane count computed from
  * the full image's vector count. Bucketing is per-row (independent of
  * corpus size once the plane count is fixed) and the cap is disabled
  * in the gated config, so restricted-full-image pairs equal the
  * stratum-alone replay at the same plane count — the identity that
  * lets the sized (production) config certify at 10× AND 100×.
  *
  * Output layout matches [[Verify]] (per-query parquet +
  * oracle_sql.json + fail-closed sentinels and exit code), so
  * `scripts/oracle_check.py <out> <out>/_stratum <names>` is the
  * compare step.
  *
  * Usage: runMain graft.ScaleGate <imageDir> <outDir>
  */
object ScaleGate {

  /** Planted ids start here: far above any organic key at any copy
    * count (a 1000× image of sf0.1 stays under 10^9 doc_ids). */
  val StratumBase = 1000000000L

  /** Gated query → the stratum restriction of its full-image output. */
  private val pairCols: DataFrame => DataFrame = df =>
    df.filter(col("id_a") >= StratumBase && col("id_b") >= StratumBase)
  private val docCol: DataFrame => DataFrame = df =>
    df.filter(col("doc_id") >= StratumBase)
  val gated: Seq[(String, DataFrame => DataFrame)] = Seq(
    "m8_dedup_exact" -> (df => df.filter(col("survivor_id") >= StratumBase)),
    "m8_dedup_minhash" -> pairCols,
    "m8_dedup_simhash" -> pairCols,
    "m8_dedup_ngram_jaccard" -> pairCols,
    "m8_dedup_embedding" -> pairCols,
    "m8_dedup_incremental" -> docCol,
    "m8_signature_store" -> docCol,
    "m8_dedup_clusters" -> docCol,
    // incremental fold == full recompute is scale-gateable for free: no
    // cross-stratum edge exists, so the stratum's labels are identical
    // whether folded or recomputed (oracle = the clusters closure)
    "m8_dedup_clusters_incremental" -> docCol,
    "m8_dedup_survivors" -> docCol)

  /** `m8_semantic_dedup` with the pair set restricted to the stratum
    * between the full-scale pair stage and the clustering tail (see
    * class doc for why the embedding family needs this). The pair stage
    * omits `planes` — the sized default derives the count from the FULL
    * image, exactly what the gated query does. */
  private def semanticDedupStratum(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    val emb = Tables.spread(Tables.embeddings(s, dir))
    val pairs = Dedup.embeddingPairs(emb, col("vec_id"), col("embedding"),
        minCosine = 0.4, dim = 64,
        maxBucket = Int.MaxValue)
      .filter(col("id_a") >= StratumBase && col("id_b") >= StratumBase)
      .select(col("id_a"), col("id_b"))
    val stratumEmb = emb.filter(col("vec_id") >= StratumBase)
    val cc = graft.ops.ConnectedComponents.run(pairs)
    val clusters = stratumEmb.select(col("vec_id").as("doc_id"))
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
    val quality = stratumEmb.select(col("vec_id").as("doc_id"),
      (col("vec_id") % 97).as("score"))
    Dedup.clusterSurvivors(clusters, quality)
  }

  /** BM25 at scale (round 14): the engine builds postings/df/dl/stats
    * over the FULL image (the thing being certified) with queries drawn
    * from the stratum (every 17th planted doc's first 4 tokens — the
    * same recipe as the gated sf query). The planted token alphabet is
    * disjoint from the organic corpus, so a stratum query term's
    * postings, df, and candidate dl are stratum-local and the result
    * set is stratum-only by construction; the ONLY two full-corpus
    * inputs to a stratum score are `n_docs` and `avgdl`, which
    * [[main]] pins into the oracle's stats CTE as literals (the
    * sized-planes move) — so DuckDB replays the ~600-doc replica while
    * the engine pays the full 10×/100× corpus. */
  private def bm25Stratum(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, dir))
    val queries = Tables.documents(s, dir)
      .filter(col("doc_id") >= StratumBase &&
        (col("doc_id") - StratumBase) % 17 === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(coalesce(col("text"), lit(""))),
          "\\s+"), 1, 4), " ").as("query_text"))
    graft.ops.TextCorpus.bm25TopK(docs, col("doc_id"), col("text"),
      queries, k = 10)
  }

  /** Exact-phrase search at scale: stratum-drawn phrases (tokens 2-4 of
    * every 17th planted doc) against the FULL image. Phrase match is
    * pure per-(query, doc) counting with NO corpus-global stats, and
    * the disjoint planted alphabet means a stratum phrase can only ever
    * match stratum docs — so the full-image output IS the stratum-alone
    * replay, with nothing to pin. */
  private def phraseStratum(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, dir))
    val queries = Tables.documents(s, dir)
      .filter(col("doc_id") >= StratumBase &&
        (col("doc_id") - StratumBase) % 17 === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(coalesce(col("text"), lit(""))),
          "\\s+"), 2, 3), " ").as("query_text"))
    graft.ops.TextCorpus.phraseSearch(docs, col("doc_id"), col("text"),
      queries, k = 10)
  }

  /** Proximity stratum gate — phrase's recipe with slop = 2. Like
    * phrase, pure per-pair counting with NO corpus-global stats, so the
    * oracle replays the full image with no pinning at all. */
  private def proximityStratum(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, dir))
    val queries = Tables.documents(s, dir)
      .filter(col("doc_id") >= StratumBase &&
        (col("doc_id") - StratumBase) % 17 === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(coalesce(col("text"), lit(""))),
          "\\s+"), 2, 3), " ").as("query_text"))
    graft.ops.TextCorpus.proximitySearch(docs, col("doc_id"), col("text"),
      queries, k = 10, slop = 2)
  }

  /** Unordered-NEAR stratum gate (round 16) — proximity's recipe
    * through [[graft.ops.TextCorpus.nearSearch]]. Pure per-pair window
    * counting with NO corpus-global stats, so like phrase/proximity the
    * oracle replays with no pinning; the ×(n_terms+slop) window-vote
    * fan-out is the one slop-scaling term the ordered gate doesn't
    * exercise. */
  private def nearStratum(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, dir))
    val queries = Tables.documents(s, dir)
      .filter(col("doc_id") >= StratumBase &&
        (col("doc_id") - StratumBase) % 17 === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(coalesce(col("text"), lit(""))),
          "\\s+"), 2, 3), " ").as("query_text"))
    graft.ops.TextCorpus.nearSearch(docs, col("doc_id"), col("text"),
      queries, k = 10, slop = 2)
  }

  /** The full image's (n_docs, total_dl) under [[graft.ops.TextCorpus
    * .bm25TopK]]'s exact tokenization (docs with ≥1 token; token
    * count), pinned into the stratum oracle's stats CTE. */
  private def bm25StatsCte(s: SparkSession, dir: String): String = {
    val dl = Tables.documents(s, dir)
      .select(size(filter(
        split(trim(coalesce(col("text"), lit(""))), "\\s+"),
        w => w =!= "")).cast("long").as("dl"))
      .where(col("dl") > 0)
    val row = dl.agg(count(lit(1)), sum(col("dl"))).head()
    s"SELECT CAST(${row.getLong(0)} AS BIGINT) AS n_docs, " +
      s"CAST(${row.getLong(1)} AS DOUBLE) AS total_dl"
  }

  /** The MULTIMODAL stratum gates (round 14): the image dir carries
    * planted real-PNG (`images.parquet`) and real-WAV (`audio.parquet`)
    * payload tables ([[ScaleUp.plantStratum]]), every payload
    * closed-form in its id — so the ENGINE decodes and measures at
    * planted scale (tens of thousands of PNGs through the pigeonhole
    * dHash join; hundreds of WAV clips through the JDK codec) while the
    * oracle holds literal expected values and derives the image pair
    * set brute-force. A decode defect, hash-measurement defect, or
    * candidate-generation miss at scale all hash-mismatch. */
  private def imagePhashScaled(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    implicit val enc = org.apache.spark.sql.Encoders.product[
      Multimodal.PlantedImage]
    Multimodal.phashPairs(
      Multimodal.extractDHashes(s,
        s.read.parquet(s"$dir/images.parquet").as[Multimodal.PlantedImage]),
      maxHamming = 3)
  }

  private def audioDecodeScaled(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    implicit val enc = org.apache.spark.sql.Encoders.product[
      Multimodal.PlantedAudio]
    Multimodal.extractAudioStats(s,
        s.read.parquet(s"$dir/audio.parquet").as[Multimodal.PlantedAudio])
      .toDF()
  }

  private def imagePhashScaledSql(s: SparkSession, dir: String): String = {
    import graft.multimodal.Multimodal
    val ids = s.read.parquet(s"$dir/images.parquet")
      .select(col("img_id")).collect().map(_.getLong(0)).sorted
    val rows = ids.map(id =>
      s"(CAST($id AS BIGINT), CAST(${Multimodal.expectedDHash(id)} AS BIGINT))")
      .mkString(",\n  ")
    s"""WITH h(img_id, dhash) AS (VALUES
       |  $rows)
       |SELECT a.img_id AS id_a, b.img_id AS id_b,
       |  CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
       |FROM h a JOIN h b ON a.img_id < b.img_id
       |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin
  }

  private def audioDecodeScaledSql(s: SparkSession, dir: String): String = {
    import graft.multimodal.Multimodal
    val ids = s.read.parquet(s"$dir/audio.parquet")
      .select(col("audio_id")).collect().map(_.getLong(0)).sorted
    val rows = ids.map { id =>
      val e = Multimodal.expectedAudioStats(id)
      s"(${e.audio_id}, ${e.sample_rate}, ${e.n_samples}, " +
        s"${e.zero_crossings}, ${e.sum_abs}, ${e.peak})"
    }.mkString(",\n  ")
    s"""SELECT CAST(audio_id AS BIGINT) AS audio_id,
       |  CAST(sample_rate AS INT) AS sample_rate,
       |  CAST(n_samples AS BIGINT) AS n_samples,
       |  CAST(zero_crossings AS BIGINT) AS zero_crossings,
       |  CAST(sum_abs AS BIGINT) AS sum_abs, CAST(peak AS INT) AS peak
       |FROM (VALUES
       |  $rows)
       |  AS t(audio_id, sample_rate, n_samples, zero_crossings, sum_abs, peak)""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    val Array(imageDir, outDir) = args.take(2)
    // Optional trailing args: gate only these queries. Since round 13
    // every gated family — text AND embedding — certifies at any decade:
    // the embedding queries run the corpus-SIZED plane derivation (their
    // oracle here pins the full-image plane count), so nothing on this
    // gate is structurally quadratic.
    val only: Set[String] = args.drop(2).toSet
    def selected(name: String): Boolean = only.isEmpty || only(name)
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()

    // Stratum-only replica tables for the oracle side. The gated oracles
    // read only documents/embeddings; the other tables ship as 1-row
    // heads so the compare harness can still create all of its views.
    val stratumDir = s"$outDir/_stratum"
    Tables.documents(spark, imageDir)
      .filter(col("doc_id") >= StratumBase)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$stratumDir/documents.parquet")
    Tables.embeddings(spark, imageDir)
      .filter(col("vec_id") >= StratumBase)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$stratumDir/embeddings.parquet")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events").foreach { t =>
      spark.read.parquet(s"$imageDir/$t.parquet").limit(1)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$stratumDir/$t.parquet")
    }
    val planted = spark.read.parquet(s"$stratumDir/documents.parquet").count()
    require(planted > 0,
      s"$imageDir carries no planted stratum — build it with " +
        "`runMain graft.ScaleUp <src> <image> <copies> plant`")

    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    def dump(name: String, df: => DataFrame): Unit =
      try df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[scalegate] $name failed: ${e.getMessage}")
        val stale = Paths.get(s"$outDir/$name")
        if (Files.exists(stale)) {
          val walk = Files.walk(stale)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.deleteIfExists(p))
          finally walk.close()
        }
        try {
          import org.apache.spark.sql.types.{StringType, StructField, StructType}
          val sentinel = StructType(Seq(
            StructField("__graft_scalegate_error", StringType)))
          spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sentinel)
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[scalegate] $name sentinel failed: ${e2.getMessage}")
        }
        failed += name
      }

    gated.filter(g => selected(g._1)).foreach { case (name, restrict) =>
      dump(name, restrict(SparkEntry.queries(name)(spark, imageDir)))
    }
    if (selected("m8_semantic_dedup"))
      dump("m8_semantic_dedup", semanticDedupStratum(spark, imageDir))
    if (selected("m8_bm25_search"))
      dump("m8_bm25_search", bm25Stratum(spark, imageDir))
    if (selected("m8_phrase_search"))
      dump("m8_phrase_search", phraseStratum(spark, imageDir))
    if (selected("m8_proximity_search"))
      dump("m8_proximity_search", proximityStratum(spark, imageDir))
    if (selected("m8_near_search"))
      dump("m8_near_search", nearStratum(spark, imageDir))
    // Each media gate probes ITS OWN payload table — plantStratum writes
    // images before audio, so a crash between the two leaves a half-
    // planted image where the image gate is still runnable and only the
    // audio gate must skip.
    val hasImages = Files.exists(Paths.get(s"$imageDir/images.parquet"))
    val hasAudio = Files.exists(Paths.get(s"$imageDir/audio.parquet"))
    if (!hasImages || !hasAudio)
      System.err.println(s"[scalegate] $imageDir is missing " +
        Seq("images.parquet" -> hasImages, "audio.parquet" -> hasAudio)
          .collect { case (t, false) => t }.mkString("/") +
        " — affected multimodal gates skipped; rebuild the image with " +
        "`runMain graft.ScaleUp <src> <image> <copies> plant` to add them")
    if (hasImages && selected("m8_image_phash_dedup"))
      dump("m8_image_phash_dedup", imagePhashScaled(spark, imageDir))
    if (hasAudio && selected("m8_audio_decode"))
      dump("m8_audio_decode", audioDecodeScaled(spark, imageDir))

    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // The sized-embedding oracles must replay at the FULL image's plane
    // count, not the count the ~600-vector stratum replica would derive
    // (choosePlanes(600) = 4 vs e.g. 9 at the 10× image) — pin it.
    val fullPlanes = graft.dedup.Dedup.choosePlanes(
      math.max(1L, Tables.embeddings(spark, imageDir).count()))
    val planesCte = graft.queries.DedupQueries.pinnedPlanesCte(fullPlanes)
    // Media oracle literals are built LAZILY (the closed-form VALUES
    // rows need a full id collect — skipped entirely when the gate
    // isn't selected) and GUARDED: a corrupt payload table degrades
    // into that one query marked failed (exit 1, recorded in
    // scalegate_errors.json) instead of an uncaught throw that would
    // kill the run after the dumps but before any report is written.
    def mediaOracle(name: String, present: Boolean,
                    build: => String): Option[(String, String)] =
      if (!present || !selected(name)) None
      else try Some(name -> build) catch { case e: Throwable =>
        System.err.println(
          s"[scalegate] $name oracle literals failed: ${e.getMessage}")
        failed += name
        None
      }
    val mediaOverrides: Seq[(String, String)] = Seq(
      mediaOracle("m8_image_phash_dedup", hasImages,
        imagePhashScaledSql(spark, imageDir)),
      mediaOracle("m8_audio_decode", hasAudio,
        audioDecodeScaledSql(spark, imageDir))).flatten
    // BM25's stats pinning (see bm25Stratum doc) — built lazily, only
    // when the gate is selected: the pin is one full-image aggregate.
    val bm25Override: Seq[(String, String)] =
      if (!selected("m8_bm25_search")) Nil
      else Seq("m8_bm25_search" -> graft.queries.TextQueries.bm25SqlFrom(
        """SELECT doc_id AS query_id,
          |    array_to_string(list_slice(
          |      string_split_regex(trim(text), '\s+'), 1, 4), ' ') AS query_text
          |  FROM documents
          |  WHERE doc_id >= 1000000000 AND (doc_id - 1000000000) % 17 = 0"""
          .stripMargin,
        statsCte = bm25StatsCte(spark, imageDir)))
    val oracleOverrides: Map[String, String] = Map(
      "m8_dedup_embedding" ->
        graft.queries.DedupQueries.embeddingSqlFrom(planesCte),
      "m8_semantic_dedup" ->
        graft.queries.DedupQueries.semanticDedupSqlFrom(planesCte),
      "m8_phrase_search" -> graft.queries.TextQueries.phraseSqlFrom(
        "doc_id >= 1000000000 AND (doc_id - 1000000000) % 17 = 0"),
      "m8_proximity_search" -> graft.queries.TextQueries.proximitySqlFrom(
        "doc_id >= 1000000000 AND (doc_id - 1000000000) % 17 = 0", 2),
      "m8_near_search" -> graft.queries.TextQueries.nearSqlFrom(
        "doc_id >= 1000000000 AND (doc_id - 1000000000) % 17 = 0", 2)) ++
      mediaOverrides ++ bm25Override
    val names = (gated.map(_._1) ++
        Seq("m8_semantic_dedup", "m8_bm25_search", "m8_phrase_search",
          "m8_proximity_search", "m8_near_search"))
      .filter(selected) ++ mediaOverrides.map(_._1)
    val json = names
      .map(n => s"${q(n)}: ${q(oracleOverrides.getOrElse(n, SparkEntry.oracleSql(n)))}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/scalegate_errors.json"),
      failed.map(q).mkString("[", ",", "]"))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[scalegate] ${failed.size} failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}
