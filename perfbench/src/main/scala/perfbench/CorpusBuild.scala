package perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.dedup.Dedup
import graft.functions.{TextFns, VectorFns}
import graft.multimodal.Multimodal
import graft.ops.{ConnectedComponents, PageRank, TextCorpus}
import graft.similarity.Similarity

/** One op prepares the whole seeded corpus: quality, exact and near-dup
  * dedup with a PageRank prior, embedding dedup, IVF and BM25 index builds
  * and media features. Serves are small IVF and BM25 query batches against
  * the index the last op built. */
final class CorpusBuild(seed: Long, work: String) extends Workload {
  import CorpusBuild._

  private val rnd = new SplittableRandom(seed)

  // ---- generation ----
  private val vocab: Vector[String] = {
    val syl = Vector("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
      "do", "fe", "gu", "hi", "ja", "be", "co", "xi", "yu", "we")
    Vector.tabulate(VocabSize)(i =>
      syl(i % 20) + syl((i / 20) % 20) + (if (i >= 400) syl((i / 400) % 20) else ""))
  }
  private def word(): String = {
    // skewed draw: a few common words, a long tail
    val u = rnd.nextDouble()
    vocab((u * u * u * VocabSize).toInt)
  }
  private def freshText(): String = {
    val n = 60 + rnd.nextInt(60)
    val sb = new StringBuilder
    (0 until n).foreach { i =>
      if (i > 0) sb.append(if (rnd.nextInt(12) == 0) ". " else " ")
      sb.append(word())
    }
    sb.append('.').toString
  }
  private def edit(text: String, edits: Int): String = {
    val ws = text.split(" ")
    (0 until edits).foreach(_ => ws(rnd.nextInt(ws.length)) = word())
    ws.mkString(" ")
  }
  private def randomVec(): Array[Float] = normalize(Array.fill(Dim)(rnd.nextGaussian().toFloat))
  private def near(v: Array[Float], noise: Double): Array[Float] =
    normalize(v.map(x => (x + noise * rnd.nextGaussian()).toFloat))

  /** family(doc) = the doc its text was copied from (itself for originals). */
  private val texts = ArrayBuffer[String]()
  private val family = ArrayBuffer[Int]()
  private val vecs = ArrayBuffer[Array[Float]]()
  private val exactOf = mutable.Map[Int, Int]()
  private val hot = randomVec()
  locally {
    while (texts.size < Docs) {
      val u = rnd.nextDouble()
      val d = texts.size
      if (d > 50 && u < ExactShare) {
        val src = family(rnd.nextInt(d))
        texts += texts(src); family += family(src); vecs += near(vecs(src), 0.01)
        exactOf(d) = src
      } else if (d > 50 && u < ExactShare + NearShare) {
        // near-dups copy originals only: star-shaped families keep the
        // component rounds the same for every seed
        val src = family(rnd.nextInt(d))
        texts += edit(texts(src), 2 + rnd.nextInt(2)); family += src
        vecs += near(vecs(src), 0.02)
      } else {
        texts += freshText(); family += d
        vecs += (if (u > 1.0 - HotShare) near(hot, 0.05) else randomVec())
      }
    }
  }
  /** Exact-duplicate groups by content: survivor = smallest id. */
  private val exactGroups: Set[(Long, Long)] =
    texts.indices.groupBy(texts(_)).values.filter(_.size > 1)
      .map(g => (g.min.toLong, g.size.toLong)).toSet
  private val plantedPairs: Vector[(Int, Int)] =
    texts.indices.groupBy(family(_)).values.filter(_.size > 1)
      .flatMap(g => g.sorted.combinations(2).map(p => (p(0), p(1)))).toVector
  private val linkEdges: Vector[(Long, Long)] = Vector.tabulate(Docs * OutLinks) { i =>
    val src = i / OutLinks
    val u = rnd.nextDouble()
    (src.toLong, (u * u * Docs).toLong)
  }.filter { case (a, b) => a != b }.distinct
  private val media: Vector[(Long, Array[Byte])] =
    (0 until Docs).filter(_ % MediaEvery == 0).map(d => d.toLong -> png(d)).toVector
  private def png(d: Int): Array[Byte] = {
    val w = 8 + rnd.nextInt(24)
    val h = 8 + rnd.nextInt(24)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, rnd.nextInt(1 << 24))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }
  /** Queries: a vector near one doc's embedding (IVF serves) and that
    * doc's three rarest words (each op's BM25 query batch), under one query
    * id. Rare words keep the BM25 postings work alike across seeds. */
  private val rank: Map[String, Int] = vocab.zipWithIndex.toMap
  private val queries: Vector[Vector[(Long, Array[Float], String)]] =
    Vector.tabulate(64)(b => Vector.tabulate(QueryBatch) { i =>
      val d = rnd.nextInt(Docs)
      val words = texts(d).split("[ .]+").filter(_.nonEmpty).distinct
      ((b * QueryBatch + i).toLong, near(vecs(d), 0.1),
        words.sortBy(w => -rank(w)).take(3).mkString(" "))
    })

  def info: Seq[(String, Any)] = Seq(
    "docs" -> Docs, "vocab" -> VocabSize, "dim" -> Dim,
    "exact_dup_docs" -> exactOf.size,
    "near_dup_docs" -> (family.indices.count(d => family(d) != d) - exactOf.size),
    "dup_share" -> f"${family.indices.count(d => family(d) != d).toDouble / Docs}%.3f",
    "planted_pairs" -> plantedPairs.size,
    "hot_bucket_docs" -> family.indices.count(d => family(d) == d && cosine(vecs(d), hot) > 0.9),
    "link_edges" -> linkEdges.size, "media_docs" -> media.size,
    "media_share" -> f"${media.size.toDouble / Docs}%.3f",
    "pagerank_max_iters" -> PageRankIters, "query_batch" -> QueryBatch)

  // ---- engine state ----
  private var spark: SparkSession = _
  private var docsDf: DataFrame = _
  private var vecsDf: DataFrame = _
  private var linksDf: DataFrame = _
  private var mediaDf: DataFrame = _
  private var lastCent: DataFrame = _
  private var lastLists: DataFrame = _
  private var serveNo = 0
  private var lastRecall = 0.0

  def prepare(s: SparkSession): Unit = {
    spark = s
    release()
    Seq(docsDf, vecsDf, linksDf, mediaDf).filter(_ != null).foreach(_.unpersist())
    def cached(df: DataFrame): DataFrame = { val d = df.persist(); d.count(); d }
    docsDf = cached(spark.createDataFrame(
      java.util.Arrays.asList(texts.indices.map(d => Row(d.toLong, texts(d))): _*),
      StructType.fromDDL("doc_id BIGINT, text STRING")).repartition(Partitions))
    vecsDf = cached(spark.createDataFrame(
      java.util.Arrays.asList(vecs.indices.map(d => Row(d.toLong, vecs(d).toSeq)): _*),
      StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>")).repartition(Partitions))
    linksDf = cached(spark.createDataFrame(
      java.util.Arrays.asList(linkEdges.map { case (a, b) => Row(a, b) }: _*),
      StructType.fromDDL("src BIGINT, dst BIGINT")).repartition(Partitions))
    mediaDf = cached(spark.createDataFrame(
      java.util.Arrays.asList(media.map { case (d, p) => Row(d, p, "png") }: _*),
      StructType.fromDDL("doc_id BIGINT, payload BINARY, format STRING"))
      .repartition(Partitions))
  }

  def warmup(t: Tracer): Unit = {
    op(t).check()
    serve(t).check()
  }

  private def release(): Unit = {
    Option(lastLists).foreach(Tracer.free)
    lastLists = null; lastCent = null
  }

  def op(t: Tracer): Step = {
    release()
    val id = col("doc_id")
    val text = col("text")
    val quality = t.layer("functions.quality")(
      docsDf.select(id, TextFns.quality_score(text).as("score")))
    val exact = t.span("dedup.exact") {
      Dedup.exactSurvivors(docsDf, id, text).filter(col("n_copies") > 1)
        .select("survivor_id", "n_copies").collect()
    }
    val pairs = t.layer("dedup.minhash")(Dedup.minhashPairs(docsDf, id, text))
    val labels = t.layer("ops.components")(
      ConnectedComponents.run(pairs.select("id_a", "id_b")))
    val ranks = t.layer("ops.pagerank")(
      PageRank.runConverged(linksDf, maxIterations = PageRankIters, epsScaled = 0L))
    val survivors = t.span("dedup.survivors") {
      val clusters = docsDf.select(id)
        .join(labels.select(col("id").as("doc_id"), col("label").as("cluster_id")),
          Seq("doc_id"), "left")
        .select(id, coalesce(col("cluster_id"), id).as("cluster_id"))
      val prior = quality.join(ranks.select(col("node").as("doc_id"), col("rank")),
          Seq("doc_id"), "left")
        .select(id, (col("score") +
          coalesce(col("rank"), lit(0L)).cast("double") / PageRank.Scale).as("score"))
      Dedup.clusterSurvivors(clusters, prior).filter(col("cluster_size") > 1)
        .select("doc_id", "cluster_id", "keep").collect()
    }
    val embPairs = t.span("dedup.embedding") {
      Dedup.embeddingPairs(vecsDf, col("vec_id"), col("embedding"),
        minCosine = 0.95, maxBucket = HotBucketCap).count()
    }
    t.span("similarity.build") {
      val (cent, lists) = Similarity.ivfBuildQuantized(vecsDf, Nlist, 2)
      lastCent = cent
      lastLists = lists.localCheckpoint(eager = true)
    }
    val bm25Answered = t.span("ops.bm25") {
      val index = TextCorpus.bm25Index(docsDf, id, text)
      try index.topK(textFrame(queries(0)), K).select("query_id").collect()
        .map(_.getLong(0)).toSet
      finally index.close()
    }
    val features = t.span("multimodal.features") {
      Multimodal.extractFeatures(spark, mediaDf).collect()
    }
    if (t.enabled) tracedCounts(pairs, ranks)
    Step(Docs, () => checkOp(exact, survivors, features.length, embPairs)
      .orElse(answered(bm25Answered, queries(0).map(_._1))))
  }

  private def checkOp(exact: Array[Row], survivors: Array[Row], nFeatures: Int,
                      embPairs: Long): Option[String] = {
    val got = exact.map(r => (r.getLong(0), r.getLong(1))).toSet
    val cluster = survivors.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keeps = survivors.groupBy(_.getLong(1)).values.map(_.count(_.getBoolean(2)))
    lastRecall = plantedPairs.count { case (a, b) =>
      cluster.get(a.toLong).exists(c => cluster.get(b.toLong).contains(c))
    }.toDouble / math.max(1, plantedPairs.size)
    if (got != exactGroups) Some(s"exact-dup survivors ${got.size} != planted ${exactGroups.size}")
    else if (keeps.exists(_ != 1)) Some("a cluster kept other than one survivor")
    else if (nFeatures != media.size) Some(s"$nFeatures media features for ${media.size} docs")
    else if (embPairs == 0) Some("no embedding near-dup pairs found")
    else None
  }

  def servesPerOp: Int = 11
  def nominalOpSeconds: Double = 7.5

  private def textFrame(qs: Seq[(Long, Array[Float], String)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(qs.map { case (q, _, txt) => Row(q, txt) }: _*),
      StructType.fromDDL("query_id BIGINT, query_text STRING"))

  /** One IVF query batch over the index the last op built. A hybrid
    * serve (this plus a BM25 leg, fused) cost over three times as much,
    * and 21 of those per run did not fit the time budget; BM25 queries run
    * once per op instead, inside `ops.bm25`. */
  def serve(t: Tracer): Step = {
    val qs = queries(serveNo % queries.size)
    serveNo += 1
    val rows = t.span("serve.ivf") {
      val q = spark.createDataFrame(
        java.util.Arrays.asList(qs.map { case (i, v, _) => Row(i, v.toSeq) }: _*),
        StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>"))
      t.layer("similarity.search")(
        Similarity.ivfServeQuantized(q, lastCent, lastLists, vecsDf, K)
          .select("query_id", "cand_id", "rank"))
        .select("query_id").collect()
    }
    Step(rows.length, () => answered(rows.map(_.getLong(0)).toSet, qs.map(_._1)))
  }

  private def answered(got: Set[Long], asked: Seq[Long]): Option[String] =
    asked.find(q => !got.contains(q)).map(q => s"query $q unanswered")

  def accuracy(): Double = lastRecall

  def finalCheck(): Option[String] = None

  // ---- traced counts ----
  private var pairsOut = 0L
  private var truePairs = 0L
  private var prRounds = 0L
  private val plantedSet = plantedPairs.map { case (a, b) => (a.toLong, b.toLong) }.toSet

  private def tracedCounts(pairs: DataFrame, ranks: DataFrame): Unit = {
    val ps = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    pairsOut += ps.length
    truePairs += ps.count(plantedSet.contains)
    prRounds += ranks.select("n_rounds").head().getLong(0)
  }

  def layerMetrics(r: TraceReport, ops: Seq[Span]): Map[String, Double] = {
    val n = ops.size.toDouble
    val stageNames = Seq("functions.quality", "dedup.exact", "dedup.minhash",
      "dedup.survivors", "dedup.embedding", "ops.components", "ops.pagerank",
      "ops.bm25", "similarity.build", "similarity.search", "multimodal.features")
    val stages = stageNames.map(x => s"${x}_s" -> r.named(x).map(r.selfSeconds).sum / n)
    val groups = Seq("dedup", "ops", "similarity").flatMap { g =>
      val ss = r.inLayer(g)
      val js = ss.flatMap(r.selfJobs)
      Seq(s"$g.driver_cpu_s" -> ss.map(r.selfThreadCpuNs).sum / 1e9 / n,
        s"$g.exec_cpu_s" -> js.map(_.execCpuNs).sum / 1e9 / n,
        s"$g.jobs" -> js.size / n,
        s"$g.shuffle_mb" -> js.map(_.shuffleWriteBytes).sum / 1048576.0 / n,
        s"$g.spill_mb" -> js.map(_.spillBytes).sum / 1048576.0 / n)
    }
    val ccSpans = r.named("ops.components")
    val prJobs = r.named("ops.pagerank").flatMap(r.allJobs).size
    val kernels = kernelRates()
    (stages ++ groups ++ kernels).toMap ++ store.map(_.layerMetrics(r)).getOrElse(Map.empty) ++ Map(
      "dedup.pairs_out" -> pairsOut / n,
      "dedup.pair_precision" -> (if (pairsOut == 0) 0.0 else truePairs.toDouble / pairsOut),
      "ops.pagerank_jobs_per_iter" -> (if (prRounds == 0) 0.0 else prJobs.toDouble / prRounds),
      // each round ends with one checksum `head`; one more checks the seed labels
      "ops.components_iters" -> (r.qesIn(ccSpans).count(_.funcName == "head") - ccSpans.size) / n,
      "plans.topk_rows_in" -> r.qesIn(ops).map(_.topkRowsIn).sum / n)
  }

  /** Rows per second of the fused kernels through their public column
    * functions, one pass over this workload's own arrays (best of three). */
  private def kernelRates(): Seq[(String, Double)] = {
    val vp = vecsDf.as("a").join(vecsDf.as("b"),
        col("b.vec_id") === (col("a.vec_id") + 1) % Docs)
      .select(col("a.embedding").as("va"), col("b.embedding").as("vb"))
      .localCheckpoint(eager = true)
    val cset = lastCent.agg(array_sort(collect_list(struct(
      col("cent_id").cast("long").as("cent_id"), col("cvec")))).as("cset"))
    val withSet = vecsDf.crossJoin(broadcast(cset)).localCheckpoint(eager = true)
    def rate(df: => DataFrame): Double = {
      val best = (1 to 3).map { _ => Main.timed(df.collect())._2 }.min
      Docs / best
    }
    val out = Seq(
      "expressions.cosine_rows_per_s" ->
        rate(vp.agg(sum(VectorFns.cosine(col("va"), col("vb"))))),
      "expressions.shingles_rows_per_s" ->
        rate(docsDf.agg(sum(size(TextFns.word_shingles(col("text")))))),
      "expressions.nearest_centroid_rows_per_s" ->
        rate(withSet.agg(sum(VectorFns.nearest_centroid_cos(col("embedding"),
          col("cset")).getField("cent_id")))))
    Tracer.free(vp); Tracer.free(withSet)
    out
  }

  /** The streaming layer: maintained stores drained and served beside
    * the built corpus. Generated here, outside every span. */
  private var store: Option[StoreStream] = None
  override def tracedOnly(t: Tracer): Seq[Option[String]] = {
    val st = new StoreStream(seed, work)
    store = Some(st)
    Main.info(st.info: _*)
    st.run(spark, t)
  }

  def close(): Unit = {
    release()
    store.foreach(_.close())
    Seq(docsDf, vecsDf, linksDf, mediaDf).filter(_ != null).foreach(_.unpersist())
  }
}

object CorpusBuild {
  val Docs = 2000
  val VocabSize = 6000
  val Dim = 64
  val ExactShare = 0.04
  val NearShare = 0.10
  val HotShare = 0.08
  val HotBucketCap = 256
  val OutLinks = 4
  val MediaEvery = 10
  val PageRankIters = 3
  val Nlist = 16
  val QueryBatch = 4
  val K = 10
  val Partitions = 4

  def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(x => (x / n).toFloat)
  }
  def cosine(a: Array[Float], b: Array[Float]): Double =
    a.indices.map(i => a(i).toDouble * b(i)).sum
}
