package perfbench

import java.io.{File, PrintWriter}
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Provenance
import graft.pipeline.{FetchCascade, Llm, Notes, ParsePipeline, Queues}
import graft.sources.SheetSources

/** Per-job page facts, indexed by the job id that ends every generated
  * URL. Shipped inside the stub clients, so they stay small arrays. */
final case class Jobs(cls: Array[Byte], company: Array[Int], role: Array[Int],
                      pageBytes: Array[Int], flags: Array[Byte]) {
  def fetchFault(j: Int): Boolean = (flags(j) & 1) != 0
  def llmFault(j: Int): Boolean = (flags(j) & 2) != 0
  def rescueGood(j: Int): Boolean = (flags(j) & 4) != 0
  def notesGood(j: Int): Boolean = (flags(j) & 8) != 0
  def companyName(j: Int): String = EtlQueue.companyName(company(j))
  def roleName(j: Int): String = EtlQueue.Roles(role(j))
}

/** Counters the stub transports bump; executors share the JVM in local
  * mode, so plain atomics see every call. */
object StubCalls {
  val fetch = new AtomicLong
  val fetchUseful = new AtomicLong
  val llm = new AtomicLong
}

/** In-memory fetch transport: pages are built from the job facts on each
  * call, planted faults throw, nothing sleeps. */
final class StubFetch(jobs: Jobs) extends FetchCascade.FetchClient {
  private def page(company: String, role: String, bytes: Int): String =
    s"""<html><script type="application/ld+json">{"@type":"JobPosting","title":"$role",""" +
      s""""hiringOrganization":{"name":"$company"}}</script>""" + EtlQueue.filler(bytes)
  private def call[T](r: Option[T]): Option[T] = {
    StubCalls.fetch.incrementAndGet()
    if (r.isDefined) StubCalls.fetchUseful.incrementAndGet()
    r
  }
  def direct(url: String): Option[(Int, String)] = {
    val j = EtlQueue.jobOf(url)
    if (jobs.fetchFault(j)) {
      StubCalls.fetch.incrementAndGet()
      throw new RuntimeException(s"planted transport fault for job $j")
    }
    val bytes = jobs.pageBytes(j)
    call(
      if (url.contains("jobs.lever.co"))
        Some(200 -> (s"<h1>${jobs.roleName(j)}</h1>" + EtlQueue.filler(bytes)))
      else jobs.cls(j) match {
        case 1 => Some(200 -> page(jobs.companyName(j), jobs.roleName(j), bytes))
        case 3 => Some(200 -> (s"""<a href="https://jobs.lever.co/${EtlQueue.slug(jobs.company(j))}/$j">apply</a>""" +
          EtlQueue.filler(bytes)))
        case 4 => Some(500 -> "<p>gone</p>")
        // half the JS-heavy pages are app shells whose site-level JSON-LD
        // looks useful but parses to nothing: the renderer-escalation path
        case _ if j % 2 == 0 => Some(200 -> (EtlQueue.ShellJsonLd + EtlQueue.filler(bytes)))
        case _ => Some(200 -> ("<p>loading</p>" + EtlQueue.filler(bytes)))
      })
  }
  def rendered(url: String): Option[String] = {
    val j = EtlQueue.jobOf(url)
    call(if (jobs.cls(j) == 2 && !url.contains("jobs.lever.co"))
      Some(page(jobs.companyName(j), jobs.roleName(j), jobs.pageBytes(j)))
    else None)
  }
  def apiRole(url: String): Option[String] = {
    val j = EtlQueue.jobOf(url)
    call(if (jobs.cls(j) == 0) Some(jobs.roleName(j)) else None)
  }
}

/** In-memory model transport: extraction prompts start with "EXTRACT ",
  * notes prompts are the snippet JSON; both carry the job URL. */
final class StubLlm(jobs: Jobs) extends Llm.LlmTransport {
  def complete(prompt: String): Option[String] = {
    StubCalls.llm.incrementAndGet()
    val m = EtlQueue.JobInText.findFirstMatchIn(prompt)
    val j = m.map(_.group(1).toInt).getOrElse(-1)
    if (j < 0) None
    else if (jobs.llmFault(j)) throw new RuntimeException(s"planted model fault for job $j")
    else if (prompt.startsWith("EXTRACT ")) Some(
      if (jobs.rescueGood(j))
        s"""Sure: {"company":"${jobs.companyName(j)}","role":"${jobs.roleName(j)}"}"""
      else "I could not find it.")
    else Some(
      if (jobs.notesGood(j))
        s"""{"invite":"Hi ${jobs.companyName(j)} team, keen to connect.",""" +
          s""""followup":"Thanks for connecting about ${jobs.roleName(j)}."}"""
      else "no notes today")
  }
}

/** The reference's scheduled drain loop: each op is one trigger over the
  * next CSV sheet wave; tracker and queue persist as parquet between ops. */
final class EtlQueue(seed: Long, work: String) extends Workload {
  import EtlQueue._

  private val dir = s"$work/etl"
  private val rnd = new SplittableRandom(seed)

  // ---- generation (constructor: before the session, outside timing) ----
  private val cls = ArrayBuffer[Byte]()
  private val company = ArrayBuffer[Int]()
  private val role = ArrayBuffer[Int]()
  private val pageBytes = ArrayBuffer[Int]()
  private val flags = ArrayBuffer[Byte]()
  private val nextRow = mutable.Map[String, Int]().withDefaultValue(0)

  private def newJob(c: Int, bytes: Int, fetchF: Double, llmF: Double,
                     rescue: Double, sheet: String): SheetRow = {
    val j = cls.size
    cls += c.toByte
    company += rnd.nextInt(Companies)
    role += rnd.nextInt(Roles.size)
    pageBytes += bytes
    flags += ((if (rnd.nextDouble() < fetchF) 1 else 0) |
      (if (rnd.nextDouble() < llmF) 2 else 0) |
      (if (rnd.nextDouble() < rescue) 4 else 0) |
      (if (rnd.nextDouble() < 0.85) 8 else 0)).toByte
    val r = nextRow(sheet); nextRow(sheet) = r + 1
    SheetRow(sheet, r, url(j, c, company(j)), j)
  }

  /** One sheet row: (sheet, row, link, job id or -1 for an invalid link). */
  private final case class SheetRow(sheet: String, row: Int, link: String, job: Int)

  private val history: Vector[SheetRow] =
    Vector.fill(HistoryRows)(newJob(1, 1000, 0, 0, 0, "archive"))

  private val waveDims = ArrayBuffer[Map[String, Double]]()
  private val waves: Vector[Vector[SheetRow]] = {
    val pasted = ArrayBuffer[SheetRow]()
    (0 until Waves).map { w =>
      // the wave's traffic profile depends on its index only, so op i of
      // every run meets the same mix; the seed draws the rows themselves
      val prof = new SplittableRandom(w % Profiles)
      // a backlog of about one batch first, then about BatchSize new links
      // per wave, so every trigger takes a full batch and the queue does
      // not grow from trigger to trigger
      val n = (if (w == 0) 2 * BatchSize else BatchSize) + prof.nextInt(5)
      val weights = Array.fill(5)(0.4 + prof.nextDouble())
      val bytes = 500 + prof.nextInt(7500)
      val repaste = 0.15 * prof.nextDouble()
      val invalid = 0.08 * prof.nextDouble()
      val rescue = 0.5 + 0.45 * prof.nextDouble()
      val fetchF = 0.04 * prof.nextDouble()
      val llmF = 0.04 * prof.nextDouble()
      waveDims += Map("bytes" -> bytes.toDouble, "repaste" -> repaste,
        "invalid" -> invalid, "rescue" -> rescue, "fetch_fault" -> fetchF,
        "llm_fault" -> llmF) ++
        (0 until 5).map(c => s"mix$c" -> weights(c) / weights.sum)
      val rows = (0 until n).map { _ =>
        val sheet = s"s${rnd.nextInt(Sheets)}"
        val u = rnd.nextDouble()
        if (u < repaste && pasted.nonEmpty)
          pasted(pasted.size - 1 - rnd.nextInt(math.min(pasted.size, 200)))
        else if (u < repaste + invalid) {
          val r = nextRow(sheet); nextRow(sheet) = r + 1
          SheetRow(sheet, r, "not a url", -1)
        } else {
          var pick = rnd.nextDouble() * weights.sum
          var c = 0
          while (c < 4 && pick >= weights(c)) { pick -= weights(c); c += 1 }
          newJob(c, bytes, fetchF, llmF, rescue, sheet)
        }
      }.toVector
      pasted ++= rows.filter(_.job >= 0)
      rows
    }.toVector
  }
  private val jobs = Jobs(cls.toArray, company.toArray, role.toArray,
    pageBytes.toArray, flags.toArray)

  waves.zipWithIndex.foreach { case (rows, w) =>
    new File(s"$dir/waves").mkdirs()
    val pw = new PrintWriter(wavePath(w))
    try {
      pw.println("Sheet,Row,Job Link,Notes")
      rows.foreach(r => pw.println(s"${r.sheet},${r.row},${r.link},pasted in wave $w"))
    } finally pw.close()
  }

  def info: Seq[(String, Any)] = {
    def span(k: String) = {
      val xs = waveDims.map(_(k))
      f"${xs.min}%.3f..${xs.max}%.3f"
    }
    Seq("waves" -> Waves, "wave_rows" -> waves.map(_.size).sum,
      "history_rows" -> HistoryRows, "batch_size" -> BatchSize,
      "page_classes" -> "ats_api,jsonld,js_heavy,aggregator,dead",
      "class_mix_ats_api" -> span("mix0"), "class_mix_jsonld" -> span("mix1"),
      "class_mix_js_heavy" -> span("mix2"), "class_mix_aggregator" -> span("mix3"),
      "class_mix_dead" -> span("mix4"), "page_bytes" -> span("bytes"),
      "repaste_share" -> span("repaste"), "invalid_share" -> span("invalid"),
      "rescue_share" -> span("rescue"), "fetch_fault_share" -> span("fetch_fault"),
      "llm_fault_share" -> span("llm_fault"))
  }

  // ---- engine state ----
  private var spark: SparkSession = _
  private var version = 0
  private var nextWave = 0
  private val trackedKeys = mutable.Set[(String, Int)]()
  private val kept = ArrayBuffer[DataFrame]()
  private var servePage = 0
  private var profile: DataFrame = _
  private lazy val fetchClient = new StubFetch(jobs)
  private lazy val llm = new StubLlm(jobs)

  private def trackerDir(v: Int) = s"$dir/tracker/v=$v"
  private def queueDir(v: Int) = s"$dir/queue/v=$v"
  private def wavePath(w: Int) = s"$dir/waves/wave-$w.csv"

  def prepare(s: SparkSession): Unit = {
    spark = s
    profile = spark.createDataFrame(Seq(
      "one-line hook" -> "backend engineer who ships",
      "top skills" -> "Scala, Spark, SQL")).toDF("key", "value")
    Files.delete(s"$dir/tracker"); Files.delete(s"$dir/queue")
    version = 0
    nextWave = 0
    trackedKeys.clear()
    trackedKeys ++= history.map(r => (r.sheet, r.row))
    val rows = history.map { r =>
      Row(r.sheet, r.row, r.link, r.link, jobs.companyName(r.job),
        jobs.roleName(r.job), "ok", "parse:{provider=direct}", "", "")
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), TrackerSchema)
      .write.parquet(trackerDir(0))
  }

  def warmup(t: Tracer): Unit = {
    op(t).check()
    (1 to 2).foreach(_ => serve(t).check())
  }

  /** Materialize once, cutting the lineage, and hold until the op's check. */
  private def keep(df: DataFrame): (DataFrame, Long) = {
    val d = df.localCheckpoint(eager = true)
    kept += d
    (d, d.count())
  }

  private val keys = Seq("sheet_name", "row_index")

  def op(t: Tracer): Step = {
    require(nextWave < Waves, "etl_queue ran out of generated waves")
    val calls0 = (StubCalls.fetch.get, StubCalls.fetchUseful.get, StubCalls.llm.get)
    val w = nextWave
    nextWave += 1
    val v = version
    val tracker = spark.read.parquet(trackerDir(v))
    val queue = SheetSources.queueSource(spark, queueDir(v))

    val sheet = t.layer("sources.read") {
      SheetSources.normalize(SheetSources.readCsvSheet(spark, wavePath(w)),
        Aliases, Seq("sheet_name", "row_index", "link"))
        .withColumn("row_index", col("row_index").cast("int"))
    }
    // first-seen keys join the tracker; only unprocessed rows are candidates
    val fresh = sheet.dropDuplicates(keys)
      .join(tracker.select(keys.map(col): _*), keys, "left_anti")
    val open = tracker.filter(col("status") === "").select(keys.map(col): _*)
      .unionByName(fresh.select(keys.map(col): _*))
    val candidates = sheet.join(open, keys, "left_semi")
      .select(col("sheet_name"), col("row_index"), col("link").as("url"))
    val (queue1, _) = t.span("pipeline.enqueue") {
      keep(queue.unionByName(Queues.enqueue(candidates, queue)))
    }
    val links = t.layer("pipeline.take")(Queues.takeBatch(queue1, BatchSize))
      .select("sheet_name", "row_index", "url")
    val (fixtures, _) = t.span("pipeline.fetch") {
      keep(FetchCascade.liveFixtures(links, fetchClient))
    }
    val parsed = t.layer("pipeline.parse")(ParsePipeline.parse(links, fixtures))
    val rescued = t.layer("pipeline.rescue") {
      Llm.extractRescue(parsed, llm, concat(lit("EXTRACT "), col("url")))
        .withColumnRenamed("llm_error", "extract_error")
    }
    val (results, nResults) = t.span("pipeline.notes") {
      val prompt = Notes.snippet_json(col("url"), col("company"), col("role"),
        lit(""), lit(""), lit(""), lit(""), lit(""), col("sheet_name"))
      keep(Llm.notesWithFallback(
        Notes.withTemplateNotes(Notes.withProfile(
          rescued.withColumn("source", lit("")), profile)), llm, prompt)
        .join(fixtures.select("url", "fetch_error"), Seq("url"), "left"))
    }
    t.span("pipeline.writeback") {
      val tracker1 = tracker.unionByName(fresh.select(
        col("sheet_name"), col("row_index"), col("link"),
        lit("").as("canonical_link"), lit("").as("company_auto"),
        lit("").as("role_auto"), lit("").as("status"), lit("").as("source"),
        lit("").as("li_invite"), lit("").as("li_followup")))
      overlay(ParsePipeline.writeBack(tracker1, results), results)
        .write.parquet(trackerDir(v + 1))
    }
    t.span("pipeline.remove") {
      Queues.removeProcessed(queue1, links).write.parquet(queueDir(v + 1))
    }
    version = v + 1
    Files.delete(trackerDir(v)); Files.delete(queueDir(v))
    if (t.enabled) {
      traced.fetch += StubCalls.fetch.get - calls0._1
      traced.useful += StubCalls.fetchUseful.get - calls0._2
      traced.llm += StubCalls.llm.get - calls0._3
    }
    Step(nResults, () => checkOp(w, queue1, results, t.enabled))
  }

  /** Notes, notes token and error token/status from the batch results onto
    * the written-back tracker rows. */
  private def overlay(written: DataFrame, results: DataFrame): DataFrame = {
    def set(c: String) = coalesce(col(c), lit("")) =!= ""
    val r = results.select(col("sheet_name"), col("row_index"),
      col("li_invite").as("_inv"), col("li_followup").as("_fu"),
      col("notes_mode").as("_nm"),
      when(set("fetch_error"), lit("fetch"))
        .when(set("llm_error") || set("extract_error"), lit("llm")).as("_err"))
    written.join(r, keys, "left")
      .withColumn("li_invite", coalesce(col("_inv"), col("li_invite")))
      .withColumn("li_followup", coalesce(col("_fu"), col("li_followup")))
      .withColumn("source", when(col("_nm").isNotNull,
        Provenance.source_token_upsert(col("source"), "notes",
          Provenance.render_token("notes", Seq("mode" -> col("_nm")))))
        .otherwise(col("source")))
      .withColumn("source", when(col("_err").isNotNull,
        Provenance.source_token_upsert(col("source"), "error",
          Provenance.render_token("error", Seq("stage" -> col("_err")))))
        .otherwise(col("source")))
      .withColumn("status", when(col("_err").isNotNull, lit("error"))
        .otherwise(col("status")))
      .drop("_inv", "_fu", "_nm", "_err")
  }

  private def checkOp(w: Int, queue1: DataFrame, results: DataFrame,
                      count: Boolean): Option[String] =
    try {
      waves(w).foreach(r => trackedKeys += (r.sheet -> r.row))
      val q1 = queue1.select("sheet_name", "row_index").collect()
        .map(r => (r.getString(0), r.getInt(1)))
      val res = results.select("sheet_name", "row_index", "url", "escalated",
        "extract_token").collect()
      kept.foreach(Tracer.free); kept.clear()
      if (count) {
        traced.links += res.length
        traced.escalated += res.count(r => !r.isNullAt(3) && r.getBoolean(3))
        traced.rescueTried += res.count(r => !r.isNullAt(4))
        traced.rescueOk += res.count(r => r.getString(4) == "extract:{mode=llm}")
      }
      val batch = res.map(r => (r.getString(0), r.getInt(1)) -> jobOf(r.getString(2))).toMap
      val tracker = spark.read.parquet(trackerDir(version))
        .select("sheet_name", "row_index", "status", "source").collect()
      val rows = tracker.filter(r => batch.contains((r.getString(0), r.getInt(1))))
      val q2 = spark.read.parquet(queueDir(version)).select("sheet_name", "row_index")
        .collect().map(r => (r.getString(0), r.getInt(1)))
      val bad = ArrayBuffer[String]()
      if (q1.length != q1.distinct.length) bad += "a key was enqueued twice"
      if (tracker.length != trackedKeys.size)
        bad += s"tracker holds ${tracker.length} rows, expected ${trackedKeys.size}"
      if (q2.exists(batch.contains)) bad += "a processed key is still queued"
      if (rows.length != batch.size) bad += s"${batch.size - rows.length} processed rows missing"
      rows.foreach { r =>
        val key = (r.getString(0), r.getInt(1))
        val j = batch(key)
        val src = r.getString(3)
        val fault =
          if (jobs.fetchFault(j)) Some("fetch") else if (jobs.llmFault(j)) Some("llm") else None
        if (!src.contains("parse:{") || !src.contains("notes:{"))
          bad += s"$key lacks provenance: $src"
        fault match {
          case Some(stage) if !src.contains(s"error:{stage=$stage}") || r.getString(2) != "error" =>
            bad += s"$key planted $stage fault not recorded: $src"
          case None if r.getString(2) != "ok" => bad += s"$key status ${r.getString(2)}: $src"
          case _ =>
        }
      }
      bad.headOption
    } catch { case e: Exception => Some(e.toString) }

  def servesPerOp: Int = 11
  def nominalOpSeconds: Double = 6.0

  /** One paged read-back of the tracker: a 25-row key range of one sheet. */
  def serve(t: Tracer): Step = {
    val sheet = s"s${servePage % Sheets}"
    val rowsSeen = trackedKeys.count(_._1 == sheet)
    val lo = (servePage / Sheets * 25) % math.max(25, rowsSeen)
    servePage += 1
    val page = t.span("serve.page") {
      spark.read.parquet(trackerDir(version))
        .filter(col("sheet_name") === sheet && col("row_index") >= lo &&
          col("row_index") < lo + 25)
        .orderBy("row_index").collect()
    }
    Step(page.length, () => {
      val idx = page.map(_.getAs[Int]("row_index")).toSeq
      if (idx != idx.sorted || idx.exists(i => i < lo || i >= lo + 25))
        Some("page out of order or out of range")
      else page.find(r => r.getAs[String]("status") == "ok" &&
          !r.getAs[String]("source").contains("parse:{"))
        .map(r => s"served row without provenance: $r")
    })
  }

  def accuracy(): Double = {
    val rows = spark.read.parquet(trackerDir(version))
      .filter(col("status") === "ok" && col("sheet_name") =!= "archive")
      .select("link", "company_auto", "role_auto").collect()
    var hits = 0
    rows.foreach { r =>
      val j = jobOf(r.getString(0))
      if (norm(r.getString(1)) == norm(jobs.companyName(j))) hits += 1
      if (norm(r.getString(2)) == norm(jobs.roleName(j))) hits += 1
    }
    if (rows.isEmpty) 0.0 else hits.toDouble / (2 * rows.length)
  }

  def finalCheck(): Option[String] = {
    val n = spark.read.parquet(trackerDir(version)).count()
    if (n != trackedKeys.size) Some(s"final tracker has $n rows, expected ${trackedKeys.size}")
    else None
  }

  def layerMetrics(r: TraceReport, ops: Seq[Span]): Map[String, Double] = {
    val n = ops.size.toDouble
    val names = Seq("sources.read") ++ Seq("enqueue", "take", "fetch", "parse",
      "rescue", "notes", "writeback", "remove").map("pipeline." + _)
    val pipe = r.inLayer("pipeline")
    names.map(x => s"${x}_s" -> r.named(x).map(r.selfSeconds).sum / n).toMap ++ Map(
      "pipeline.driver_cpu_s" -> pipe.map(r.selfThreadCpuNs).sum / 1e9 / n,
      "pipeline.jobs_per_op" -> pipe.flatMap(r.selfJobs).size / n,
      "pipeline.fetch_calls_per_link" -> ratio(traced.fetch, traced.links),
      "pipeline.fetch_useful_ratio" -> ratio(traced.useful, traced.fetch),
      "pipeline.llm_calls_per_link" -> ratio(traced.llm, traced.links),
      "pipeline.escalation_ratio" -> ratio(traced.escalated, traced.links),
      "pipeline.rescue_ok_ratio" -> ratio(traced.rescueOk, traced.rescueTried))
  }

  /** Workload counts over the traced ops. */
  private object traced {
    var links, fetch, useful, llm, escalated, rescueOk, rescueTried = 0L
  }

  def close(): Unit = { kept.foreach(Tracer.free); kept.clear() }

  private def ratio(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b
  private def norm(s: String): String = Option(s).getOrElse("").trim.toLowerCase
}

object EtlQueue {
  val Waves = 16
  val Profiles = 16
  val HistoryRows = 400
  /** The reference's BATCH_SIZE default. */
  val BatchSize = 12
  val Sheets = 4
  val Companies = 500
  val Roles: Vector[String] = Vector("Data Engineer", "Backend Engineer",
    "Platform Engineer", "Site Reliability Engineer", "Machine Learning Engineer",
    "Frontend Engineer", "Security Engineer", "Product Designer",
    "Engineering Manager", "Analytics Engineer", "Mobile Engineer",
    "Solutions Architect", "Research Scientist", "Infrastructure Engineer",
    "Developer Advocate", "Database Administrator")
  val Aliases: Map[String, String] =
    Map("Sheet" -> "sheet_name", "Row" -> "row_index", "Job Link" -> "link")
  val TrackerSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "sheet_name STRING, row_index INT, link STRING, canonical_link STRING, " +
        "company_auto STRING, role_auto STRING, status STRING, source STRING, " +
        "li_invite STRING, li_followup STRING")
  val JobInText = "/(\\d+)(?:[\"?#]|$)".r
  val ShellJsonLd =
    """<script type="application/ld+json">{"@type":"WebSite"}</script><p>loading</p>"""

  private val syllables = Vector("ac", "bel", "cor", "dax", "ev", "fin", "gro",
    "hal", "ion", "jun", "kel", "lum", "mar", "nov", "or", "pix", "quo", "ras",
    "sol", "tek", "ul", "ver", "wex", "yon", "zen")
  def slug(c: Int): String = {
    val a = syllables(c % syllables.size)
    val b = syllables((c / syllables.size) % syllables.size)
    s"$a$b${c / (syllables.size * syllables.size)}"
  }
  def companyName(c: Int): String = slug(c).capitalize

  def url(j: Int, cls: Int, company: Int): String = cls match {
    case 0 => s"https://boards.greenhouse.io/${slug(company)}/jobs/$j"
    case 1 => s"https://careers.example-${j % 97}.com/jobs/$j"
    case 2 => s"https://app.example-${j % 89}.io/j/$j"
    case 3 => s"https://www.linkedin.com/jobs/view/$j"
    case _ => s"https://gone.example.com/j/$j"
  }
  def jobOf(url: String): Int = url.substring(url.lastIndexOf('/') + 1).toInt

  private val lorem = ("lorem ipsum dolor sit amet consectetur adipiscing elit " * 200)
  def filler(bytes: Int): String = {
    val sb = new StringBuilder("<div>")
    while (sb.length < bytes) sb.append(lorem, 0, math.min(lorem.length, bytes - sb.length))
    sb.append("</div>").toString
  }
}
