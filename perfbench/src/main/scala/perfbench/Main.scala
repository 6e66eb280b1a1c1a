package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Outcome of one timed call: rows it completed and a check of its output,
  * run after the clock stops (None = correct, Some(reason) = failed). */
final case class Step(rows: Long, check: () => Option[String])

/** One workload: seeded inputs, a write op, a read (serve) call, and the
  * per-layer metrics of its traced steps. Inputs are generated in the
  * constructor, before the session starts and outside every timed region. */
trait Workload {
  /** Input sizes and traffic dimensions, printed in the run's info. */
  def info: Seq[(String, Any)]
  /** Load the inputs into the engine and build the starting state. Called
    * several times during set-up; each call resets the state. */
  def prepare(spark: SparkSession): Unit
  /** Full-size steps of the measured shape. */
  def warmup(t: Tracer): Unit
  def op(t: Tracer): Step
  /** Steps that run only in the traced run, after the traced ops, for a
    * layer the untraced workload does not reach. Returns each step's
    * outcome, already checked (None = correct). */
  def tracedOnly(t: Tracer): Seq[Option[String]] = Nil
  def serve(t: Tracer): Step
  def servesPerOp: Int
  /** Typical warm op wall: a run of `seconds` measures seconds / this ops. */
  def nominalOpSeconds: Double
  /** Output quality against generator truth, computed outside timing. */
  def accuracy(): Double
  /** End-of-run check of the persistent state. */
  def finalCheck(): Option[String]
  /** Workload-specific per-layer metrics from the traced steps. */
  def layerMetrics(r: TraceReport, ops: Seq[Span]): Map[String, Double]
  def close(): Unit
}

object Main {
  /** Every per-layer metric and its unit. A traced run prints all of them;
    * a layer that does no work on a workload reports 0. */
  val PerLayer: Seq[(String, String)] = {
    def s(names: String*) = names.map(_ -> "s")
    val groups = for (g <- Seq("dedup", "ops", "similarity");
                      (m, u) <- Seq("driver_cpu_s" -> "s", "exec_cpu_s" -> "s",
                        "jobs" -> "count", "shuffle_mb" -> "MiB",
                        "spill_mb" -> "MiB")) yield s"$g.$m" -> u
    s("sources.read_s") ++
      s(Seq("enqueue", "take", "fetch", "parse", "rescue", "notes",
        "writeback", "remove").map(x => s"pipeline.${x}_s"): _*) ++
      Seq("pipeline.driver_cpu_s" -> "s", "pipeline.jobs_per_op" -> "count",
        "pipeline.fetch_calls_per_link" -> "ratio",
        "pipeline.fetch_useful_ratio" -> "ratio",
        "pipeline.llm_calls_per_link" -> "ratio",
        "pipeline.escalation_ratio" -> "ratio",
        "pipeline.rescue_ok_ratio" -> "ratio") ++
      s("functions.quality_s", "dedup.exact_s", "dedup.minhash_s",
        "dedup.survivors_s", "dedup.embedding_s", "ops.components_s",
        "ops.pagerank_s", "ops.bm25_s", "similarity.build_s",
        "similarity.search_s", "multimodal.features_s") ++
      groups ++
      Seq("dedup.pairs_out" -> "count", "dedup.pair_precision" -> "ratio",
        "ops.pagerank_jobs_per_iter" -> "count",
        "ops.components_iters" -> "count", "plans.topk_rows_in" -> "count",
        "expressions.cosine_rows_per_s" -> "1/s",
        "expressions.shingles_rows_per_s" -> "1/s",
        "expressions.nearest_centroid_rows_per_s" -> "1/s") ++
      s(Seq("admit", "index", "serve", "refresh").map(x => s"streaming.${x}_s"): _*) ++
      Seq("streaming.jobs_per_drain" -> "count",
        "streaming.driver_gap_share" -> "ratio", "streaming.driver_cpu_s" -> "s",
        "streaming.planning_ms" -> "ms", "streaming.get_batch_ms" -> "ms",
        "streaming.add_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
        "streaming.live_batch_dirs" -> "count", "streaming.compactions" -> "count",
        "streaming.tombstones" -> "count",
        "streaming.bytes_per_input_byte" -> "ratio",
        "streaming.serve_read_mb" -> "MiB") ++
      Seq("spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
        "spark.busy_share" -> "ratio", "spark.driver_gap_share" -> "ratio",
        "spark.planning_ms_per_op" -> "ms",
        "spark.codegen_compiles_per_op" -> "count",
        "spark.codegen_ms_per_op" -> "ms", "spark.gc_ms_per_op" -> "ms",
        "spark.driver_cpu_ms_per_op" -> "ms",
        "spark.exec_cpu_ms_per_op" -> "ms",
        "spark.cache_entries_after_run" -> "count",
        "trace.overhead_share" -> "ratio")
  }

  /** The traced run's steps are fixed (two traced ops with their serves
    * and, between them, one untimed reference op as the trace overhead
    * base), so counts repeat exactly for a seed. */
  val TracedServesPerOp = 3
  val MinServes = 21
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val jvmToMainS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val Array(workload, seedS, secondsS, traceS, work) = args
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val traced = traceS == "1"
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val (wl, generateS) = timed[Workload](workload match {
      case "etl_queue" => new EtlQueue(seed, work)
      case "corpus_build" => new CorpusBuild(seed, work)
      case other => sys.error(s"unknown workload $other")
    })
    info("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "master" -> s"local[$cores]", "generate_s" -> generateS)
    info(wl.info: _*)

    val (spark, sessionS) = timed {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s.range(1).count()
      s
    }
    val t = new Tracer(spark, traced, s"$workload-$seed")
    val untraced = new Tracer(spark, false, t.runId)

    val prepareS = median((1 to SetupRepeats).map(_ => timed(wl.prepare(spark))._2))
    val warmS = timed(wl.warmup(untraced))._2
    val setupS = jvmToMainS + sessionS + prepareS + warmS
    info("setup_jvm_s" -> jvmToMainS, "setup_session_s" -> sessionS,
      "setup_prepare_median_s" -> prepareS, "setup_warmup_s" -> warmS)

    var attempted = 0L
    var failed = 0L
    def account(s: Step, what: String): Unit = {
      attempted += 1
      s.check().foreach { why =>
        failed += 1
        info("failed" -> what, "why" -> why)
      }
    }

    val measure0 = System.nanoTime()
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val opMs = ArrayBuffer[Double]()
        val serveMs = ArrayBuffer[Double]()
        var rows = 0L
        var cpuNs = 0L
        def serveOnce(): Unit = {
          val w0 = System.nanoTime()
          val s = wl.serve(untraced)
          serveMs += (System.nanoTime() - w0) / 1e6
          account(s, "serve")
        }
        val steal0 = Probe.cpuSteal()
        val nOps = math.max(2, math.round(seconds / wl.nominalOpSeconds).toInt)
        while (opMs.size < nOps) {
          val c0 = Probe.processCpuNs()
          val w0 = System.nanoTime()
          val s = wl.op(untraced)
          opMs += (System.nanoTime() - w0) / 1e6
          cpuNs += Probe.processCpuNs() - c0
          rows += s.rows
          account(s, "op")
          (1 to wl.servesPerOp).foreach(_ => serveOnce())
        }
        while (serveMs.size < MinServes) serveOnce()
        val steal1 = Probe.cpuSteal()
        val sorted = serveMs.sorted
        val tailIdx = sorted.size - 11
        info("ops" -> opMs.size, "rows" -> rows, "serves" -> serveMs.size,
          "serve_tail_rank" -> (tailIdx + 1),
          "serve_tail_percentile" -> f"${100.0 * (tailIdx + 1) / sorted.size}%.1f",
          "op_ms" -> opMs.map(x => f"$x%.0f").mkString(","),
          "cpu_steal_share" -> f"${(steal1._1 - steal0._1).toDouble / math.max(1L, steal1._2 - steal0._2)}%.4f")
        failed += wl.finalCheck().map { why =>
          info("failed" -> "final", "why" -> why); 1L
        }.getOrElse(0L)
        attempted += 1
        val wallS = opMs.sum / 1000.0
        Seq(
          ("setup_s", setupS, "s"),
          ("rows_per_s", rows / wallS, "1/s"),
          ("cpu_ms_per_row", cpuNs / 1e6 / math.max(rows, 1L), "ms"),
          ("op_p50_ms", median(opMs.toSeq), "ms"),
          ("serve_p50_ms", median(serveMs.toSeq), "ms"),
          ("serve_tail_ms", sorted(tailIdx), "ms"),
          ("peak_rss_mb", Probe.peakRssMb(), "MiB"),
          ("accuracy", wl.accuracy(), "ratio"))
      } else {
        def reference(): Double = {
          val (s, sec) = timed(wl.op(untraced))
          account(s, "op"); sec * 1000
        }
        def tracedOp(): Span = {
          val s = t.span("op")(wl.op(t))
          account(s, "op")
          t.release()
          (1 to TracedServesPerOp).foreach(_ => account(t.span("serve")(wl.serve(t)), "serve"))
          t.release()
          t.spans.filter(_.name == "op").last
        }
        // traced, reference, traced: a warm-up trend that is still running
        // falls alike on both sides of the overhead share
        val first = tracedOp()
        val refMs = Seq(reference())
        val opSpans = Seq(first, tracedOp())
        wl.tracedOnly(t).foreach(o => account(Step(0, () => o), "traced-only step"))
        val r = t.finish()
        val specific = wl.layerMetrics(r, opSpans)
        failed += wl.finalCheck().map { why =>
          info("failed" -> "final", "why" -> why); 1L
        }.getOrElse(0L)
        attempted += 1
        val n = opSpans.size.toDouble
        val opJobs = opSpans.flatMap(r.allJobs)
        val busy = r.busyShare(opSpans)
        val tracedMs = opSpans.map(_.seconds * 1000)
        val generic = Map(
          "spark.jobs_per_op" -> opJobs.size / n,
          "spark.tasks_per_op" -> opJobs.map(_.tasks).sum / n,
          "spark.busy_share" -> busy,
          "spark.driver_gap_share" -> (1.0 - busy),
          "spark.planning_ms_per_op" -> r.qesIn(opSpans).map(_.planningMs).sum / n,
          "spark.codegen_compiles_per_op" -> opSpans.map(_.compiles).sum / n,
          "spark.codegen_ms_per_op" -> opSpans.map(_.codegenMs).sum / n,
          "spark.gc_ms_per_op" -> opSpans.map(_.gcMs).sum / n,
          "spark.driver_cpu_ms_per_op" -> opSpans.map(_.threadCpuNs).sum / 1e6 / n,
          "spark.exec_cpu_ms_per_op" -> opJobs.map(_.execCpuNs).sum / 1e6 / n,
          "trace.overhead_share" -> (median(tracedMs) / median(refMs) - 1.0))
        wl.close()
        val cacheLeft = spark.sparkContext.getPersistentRDDs.size.toDouble
        val all = PerLayer.map(_._1 -> 0.0).toMap ++ specific ++ generic +
          ("spark.cache_entries_after_run" -> cacheLeft)
        info("reference_op_ms" -> refMs.map(x => f"$x%.0f").mkString(","),
          "traced_op_ms" -> tracedMs.map(x => f"$x%.0f").mkString(","),
          "spans" -> r.spans.size, "jobs" -> r.jobs.size)
        PerLayer.map { case (name, unit) => (name, all(name), unit) }
      }
    val measureS = (System.nanoTime() - measure0) / 1e9
    if (!traced) wl.close()
    val stopS = timed(spark.stop())._2
    info("measure_s" -> measureS, "stop_s" -> stopS)

    val body = metrics.map { case (name, v, unit) =>
      s""""$name": {"value": ${num(v)}, "unit": "$unit"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def info(kv: (String, Any)*): Unit =
    println("# " + kv.map { case (k, v) => s"$k=$v" }.mkString(" "))
}

object Files {
  /** Recursive delete; a missing path is not an error. */
  def delete(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(path))
  }
}
