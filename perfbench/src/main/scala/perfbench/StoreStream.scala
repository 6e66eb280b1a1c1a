package perfbench

import java.io.{File, PrintWriter}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.streaming.{AnnIndex, BatchStore, DedupStream, IndexStream}

/** Maintained stores under writes beside reads, run by corpus_build's
  * traced run so the streaming layer is measured: each drain takes one
  * staged micro-batch of adds (fresh docs and near-dups of live docs) and
  * deletes through the streaming dedup admission and the versioned ANN
  * index; serves query the index between drains, and the index is
  * refreshed on a fixed cadence. Compaction runs at drain start once a
  * store holds more than [[StoreStream.CompactOver]] live batch dirs. */
final class StoreStream(seed: Long, work: String) {
  import StoreStream._

  private val dir = s"$work/store"
  private val rnd = new SplittableRandom(seed)

  // ---- generation ----
  private val vocab = Vector.tabulate(VocabSize)(i => s"w${Integer.toString(i * 7919 % 99991, 36)}")
  private def freshText(): String =
    Vector.fill(70 + rnd.nextInt(40)) {
      val u = rnd.nextDouble(); vocab((u * u * VocabSize).toInt)
    }.mkString(" ")
  private def edit(text: String): String = {
    val ws = text.split(" ")
    ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(VocabSize))
    ws.mkString(" ")
  }
  private def randomVec(): Array[Float] =
    CorpusBuild.normalize(Array.fill(Dim)(rnd.nextGaussian().toFloat))
  private def near(v: Array[Float], noise: Double): Array[Float] =
    CorpusBuild.normalize(v.map(x => (x + noise * rnd.nextGaussian()).toFloat))

  private val texts = ArrayBuffer[String]()
  private val vecs = ArrayBuffer[Array[Float]]()
  private def newDoc(text: String, v: Array[Float]): Int = {
    texts += text; vecs += v; texts.size - 1
  }

  /** One staged micro-batch and the verdict each add must get. */
  private final case class Batch(adds: Vector[Int], dels: Vector[Int],
                                 expectReject: Set[Int])

  private val initial: Vector[Int] =
    Vector.fill(InitialDocs)(newDoc(freshText(), randomVec()))
  private val batches: Vector[Batch] = {
    // admitted originals still live: the only docs near-dups are made of
    val live = mutable.LinkedHashSet[Int]() ++ initial
    Vector.fill(Batches) {
      val dels = Vector.fill(DelsPerBatch) {
        val d = live.iterator.drop(rnd.nextInt(live.size)).next()
        live -= d; d
      }.distinct
      val liveNow = live.toVector
      val adds = ArrayBuffer[Int]()
      val reject = mutable.Set[Int]()
      (0 until AddsPerBatch).foreach { _ =>
        if (rnd.nextDouble() < NearShare) {
          val src = liveNow(rnd.nextInt(liveNow.size))
          val d = newDoc(edit(texts(src)), near(vecs(src), 0.05))
          adds += d; reject += d
        } else {
          val d = newDoc(freshText(), randomVec())
          adds += d
        }
      }
      live ++= adds.filterNot(reject.contains)
      Batch(adds.toVector, dels, reject.toSet)
    }
  }
  private val queries: Vector[Vector[(Long, Array[Float])]] =
    Vector.tabulate(Batches * ServesPerDrain)(b => Vector.tabulate(QueryBatch)(i =>
      (10000000L + b * QueryBatch + i) -> near(vecs(rnd.nextInt(vecs.size)), 0.2)))

  private def jsonVec(v: Array[Float]) =
    v.map(x => java.lang.Float.toString(x)).mkString("[", ",", "]")
  private def writeLines(path: String)(lines: Seq[String]): Long = {
    val f = new File(path)
    val pw = new PrintWriter(f)
    try lines.foreach(pw.println) finally pw.close()
    f.length()
  }
  /** Bytes of each staged batch (docs + vecs files); the initial corpus
    * file is staged by every prepare. */
  private val initBytes: Long = {
    new File(s"$dir/staged").mkdirs()
    writeLines(s"$dir/staged/docs-init.json")(
      initial.map(d => s"""{"doc_id":$d,"text":"${texts(d)}","kind":"add"}"""))
  }
  private val batchBytes: Vector[Long] = batches.zipWithIndex.map { case (b, i) =>
    writeLines(s"$dir/staged/docs-$i.json")(
      b.adds.map(d => s"""{"doc_id":$d,"text":"${texts(d)}","kind":"add"}""") ++
        b.dels.map(d => s"""{"doc_id":$d,"kind":"del"}""")) +
      writeLines(s"$dir/staged/vecs-$i.json")(
        b.adds.map(d => s"""{"vec_id":$d,"embedding":${jsonVec(vecs(d))},"kind":"add"}""") ++
          b.dels.map(d => s"""{"vec_id":$d,"kind":"del"}"""))
  }

  def info: Seq[(String, Any)] = Seq(
    "initial_docs" -> InitialDocs, "batches" -> Batches,
    "adds_per_batch" -> AddsPerBatch, "dels_per_batch" -> DelsPerBatch,
    "add_delete_mix" -> f"${AddsPerBatch.toDouble / (AddsPerBatch + DelsPerBatch)}%.3f",
    "near_dup_share" -> NearShare, "dim" -> Dim, "query_batch" -> QueryBatch,
    "k" -> K, "refresh_every" -> RefreshEvery, "compact_over" -> CompactOver,
    "traced_drains" -> TracedDrains, "serves_per_drain" -> ServesPerDrain)

  // ---- engine state ----
  private var spark: SparkSession = _
  private var allVecs: DataFrame = _
  private var drained = 0
  private val liveVecs = mutable.Set[Int]()
  private val liveSigs = mutable.Set[Int]()
  private val deleted = mutable.Set[Int]()
  private var serveNo = 0
  private def sigDir = s"$dir/sigs"
  private def verdictDir = s"$dir/verdicts"
  private def annRoot = s"$dir/ann"
  private def version = AnnIndex.currentVersion(spark, annRoot).get
  private def listsDir = s"$annRoot/v=$version/lists"

  private val docSchema = StructType.fromDDL("doc_id BIGINT, text STRING, kind STRING")
  private val vecSchema =
    StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>, kind STRING")

  /** Move a staged file into a stream's source dir under a hidden name
    * first, so the file source never lists a half-written file. */
  private def stage(name: String, into: String): Unit = {
    new File(s"$dir/$into").mkdirs()
    val tmp = new File(s"$dir/$into/.$name")
    java.nio.file.Files.copy(new File(s"$dir/staged/$name").toPath, tmp.toPath)
    tmp.renameTo(new File(s"$dir/$into/$name"))
  }
  private def stageBatch(i: Int): Unit =
    if (i < Batches) { stage(s"docs-$i.json", "docs"); stage(s"vecs-$i.json", "vecs") }

  private def admit(t: Tracer): Unit = t.span("streaming.admit") {
    await(DedupStream.admitDocuments(
      spark.readStream.schema(docSchema).json(s"$dir/docs"), sigDir, verdictDir,
      s"$dir/ckpt/admit", compactWhenBatchesExceed = Some(CompactOver),
      kindCol = Some("kind")), t)
  }

  private def prepare(s: SparkSession): Unit = {
    spark = s
    allVecs = spark.createDataFrame(
      java.util.Arrays.asList(vecs.indices.map(d => Row(d.toLong, vecs(d).toSeq)): _*),
      StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>")).persist()
    allVecs.count()
    // the starting state: the initial corpus admitted and indexed
    stage("docs-init.json", "docs")
    admit(new Tracer(spark, false, ""))
    AnnIndex.init(spark, annRoot, allVecs.filter(col("vec_id") < InitialDocs))
    liveVecs ++= initial
    liveSigs ++= initial
    gens = pointers()
    stageBatch(0)
  }

  /** Set up the stores, warm up with one untraced drain, then run the
    * traced drains with their serves and refreshes. Returns the outcome
    * of every step (None = correct), checked in order, since checking a
    * drain stages the next batch. */
  def run(s: SparkSession, t: Tracer): Seq[Option[String]] = {
    val untraced = new Tracer(s, false, t.runId)
    prepare(s)
    val warm = drain(untraced).check()
    refresh(untraced)
    val steps = (1 to TracedDrains).flatMap { _ =>
      val d = drain(t).check()
      if (drained % RefreshEvery == 0) refresh(t)
      d +: (1 to ServesPerDrain).map(_ => serve(t).check())
    }
    (warm +: steps) :+ finalCheck()
  }

  /** The quantizer refresh; it starts a new index version, which is not a
    * compaction. */
  private def refresh(t: Tracer): Unit = {
    t.span("streaming.refresh")(AnnIndex.refresh(spark, annRoot, allVecs))
    gens = pointers()
  }

  /** Wait for an AvailableNow drain. Traced, the stream execution thread's
    * CPU is sampled while it runs and charged to the open spans. */
  private def await(q: StreamingQuery, t: Tracer): Unit = {
    if (!t.enabled) q.awaitTermination()
    else {
      val runId = q.runId.toString
      val thread = Thread.getAllStackTraces.keySet.asScala
        .find(_.getName.contains(runId)).map(_.getId)
      var cpu = 0L
      while (!q.awaitTermination(5))
        thread.foreach { id => val c = Probe.threadCpuNs(id); if (c > 0) cpu = c }
      t.addThreadCpu(cpu)
      progress ++= q.recentProgress.map(_.durationMs.asScala.map {
        case (k, v) => k -> v.longValue }.toMap)
    }
    q.exception.foreach(e => throw e)
  }

  private def drain(t: Tracer): Step = {
    require(drained < Batches, "the store steps ran out of generated batches")
    val i = drained
    admit(t)
    t.span("streaming.index") {
      await(AnnIndex.maintain(spark.readStream.schema(vecSchema).json(s"$dir/vecs"),
        annRoot, s"$dir/ckpt/index", compactWhenBatchesExceed = Some(CompactOver),
        kindCol = Some("kind")), t)
    }
    drained += 1
    val b = batches(i)
    Step(b.adds.size + b.dels.size, () => checkDrain(i, t.enabled))
  }

  private def checkDrain(i: Int, traced: Boolean): Option[String] =
    try {
      val b = batches(i)
      val verdicts = spark.read.parquet(verdictDir)
        .filter(col("doc_id").isin(b.adds.map(_.toLong): _*))
        .select("doc_id", "verdict").collect()
        .map(r => r.getLong(0).toInt -> r.getString(1)).toMap
      liveVecs ++= b.adds; liveVecs --= b.dels
      liveSigs ++= b.adds.filterNot(b.expectReject.contains); liveSigs --= b.dels
      deleted ++= b.dels
      val now = pointers()
      if (traced) compactions += now.zip(gens).count { case (a, b) => a != b }
      gens = now
      stageBatch(i + 1)
      b.adds.find(d => !verdicts.get(d).contains(
          if (b.expectReject(d)) "reject" else "admit"))
        .map(d => s"doc $d verdict ${verdicts.get(d)}, expected " +
          (if (b.expectReject(d)) "reject" else "admit"))
    } catch { case e: Exception => Some(e.toString) }

  private def serve(t: Tracer): Step = {
    val qs = queries(serveNo % queries.size)
    serveNo += 1
    val rows = t.span("streaming.serve") {
      val q = spark.createDataFrame(
        java.util.Arrays.asList(qs.map { case (id, v) => Row(id, v.toSeq) }: _*),
        StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>"))
      AnnIndex.serve(spark, annRoot, q, allVecs, K).select("query_id", "cand_id").collect()
    }
    Step(rows.length, () => {
      val got = rows.map(_.getLong(0)).toSet
      rows.find(r => deleted.contains(r.getLong(1).toInt))
        .map(r => s"served deleted id ${r.getLong(1)}")
        .orElse(qs.find(q => !got.contains(q._1)).map(q => s"query ${q._1} unanswered"))
    })
  }

  /** Both stores' live sets equal the generator's truth. */
  private def finalCheck(): Option[String] = {
    val ann = IndexStream.readLists(spark, listsDir).select("cand_id").distinct()
      .collect().map(_.getLong(0).toInt).toSet
    val sigs = {
      val live = BatchStore.read(spark, sigDir).select("id")
      (if (BatchStore.hasDeletes(spark, sigDir))
        live.join(BatchStore.readDeletes(spark, sigDir), col("id") === col("del_id"), "left_anti")
      else live).collect().map(_.getLong(0).toInt).toSet
    }
    if (ann != liveVecs.toSet) Some(s"index holds ${ann.size} ids, expected ${liveVecs.size}")
    else if (sigs != liveSigs.toSet) Some(s"dedup store holds ${sigs.size} ids, expected ${liveSigs.size}")
    else None
  }

  // ---- traced counts ----
  private val progress = ArrayBuffer[Map[String, Long]]()
  private var compactions = 0L
  private var gens: Seq[Option[(Long, Long)]] = Nil
  private def pointers(): Seq[Option[(Long, Long)]] =
    Seq(BatchStore.readPointer(spark, sigDir),
      BatchStore.readPointer(spark, listsDir).map { case (g, _) => (version, g) })

  private def dirBytes(path: String): Long = {
    val f = new File(path)
    if (f.isFile) f.length() else Option(f.listFiles()).map(_.map(x => dirBytes(x.getPath)).sum).getOrElse(0L)
  }

  /** The streaming per-layer metrics, per traced drain unless named
    * otherwise. */
  def layerMetrics(r: TraceReport): Map[String, Double] = {
    val n = TracedDrains.toDouble
    val drains = r.named("streaming.admit") ++ r.named("streaming.index")
    val serves = r.named("streaming.serve")
    val busy = r.busyShare(drains)
    def prog(k: String) = progress.map(_.getOrElse(k, 0L)).sum / n
    val tombstones = Seq(sigDir, listsDir).filter(BatchStore.hasDeletes(spark, _))
      .map(BatchStore.readDeletes(spark, _).count()).sum
    Seq("admit", "index", "serve", "refresh").map(x =>
      s"streaming.${x}_s" -> r.named(s"streaming.$x").map(r.selfSeconds).sum / n).toMap ++ Map(
      "streaming.jobs_per_drain" -> drains.flatMap(r.allJobs).size / n,
      "streaming.driver_gap_share" -> (1.0 - busy),
      "streaming.driver_cpu_s" -> drains.map(_.threadCpuNs).sum / 1e9 / n,
      "streaming.planning_ms" -> prog("queryPlanning"),
      "streaming.get_batch_ms" -> prog("getBatch"),
      "streaming.add_batch_ms" -> prog("addBatch"),
      "streaming.wal_commit_ms" -> prog("walCommit"),
      "streaming.live_batch_dirs" ->
        (BatchStore.liveBatchCount(spark, sigDir) + BatchStore.liveBatchCount(spark, listsDir)).toDouble,
      "streaming.compactions" -> compactions / n,
      "streaming.tombstones" -> tombstones.toDouble,
      "streaming.bytes_per_input_byte" ->
        (dirBytes(sigDir) + dirBytes(annRoot)).toDouble / (initBytes + drainedTotal),
      "streaming.serve_read_mb" ->
        serves.flatMap(r.allJobs).map(_.inputBytes).sum / 1048576.0 / math.max(1, serves.size))
  }
  private def drainedTotal: Long = batchBytes.take(drained).sum

  def close(): Unit = Option(allVecs).foreach(_.unpersist())
}

object StoreStream {
  val InitialDocs = 400
  val TracedDrains = 2
  val ServesPerDrain = 2
  val Batches = TracedDrains + 1
  val AddsPerBatch = 60
  val DelsPerBatch = 8
  val NearShare = 0.2
  val VocabSize = 8000
  val Dim = 32
  val QueryBatch = 8
  val K = 10
  val RefreshEvery = 3
  val CompactOver = 2
}
