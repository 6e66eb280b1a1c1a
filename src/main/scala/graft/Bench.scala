package graft

/** Benchmark main (driver contract): times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * A short uncounted warm-up action runs first so per-query numbers
  * measure plan execution, not JVM/codegen cold start.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession()

    // Every timed action drains the FULL result through the noop sink:
    // all output columns are consumed, so Catalyst cannot prune columns
    // or eliminate the joins that produce them. `count()` was measurably
    // wrong here — m8_importance_weights' weights left-join was join-
    // eliminated under count() and the artifact timed a bare scan
    // (BASELINE.md round-12 honesty note); noop pays the same plan the
    // correctness gate (a real parquet write) pays, minus the disk.
    def drain(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // Warm-up: touch codegen + parquet reader once (not timed).
    try drain(SparkEntry.entry(spark)) catch { case _: Throwable => () }
    // Image-decode warm-up: round-14's artifact carried a 1.1–5.0 s
    // spread on m8_image_phash_dedup over identical code — javax.imageio
    // plugin discovery and the per-pixel decode loop's JIT are lazy, so
    // whichever image query ran FIRST absorbed them (and under repeat=3
    // a still-cold C2 kept all three samples slow on bad draws). One
    // uncounted run pays that once, outside every timed sample.
    try SparkEntry.queries.get("m8_image_phash_dedup")
      .foreach(fn => drain(fn(spark, sfDir)))
    catch { case _: Throwable => () }

    // Host-speed calibration: a pinned synthetic workload (no testdata,
    // no disk — 160M-row range → hash → 1024-key shuffle → noop, ~0.55 s
    // so scheduler noise amortizes; the original 10×-smaller ruler
    // spread ±35% within one artifact) timed at artifact start AND end. Two rounds
    // of totals moved for purely environmental reasons (95.9 → 157.0 s
    // on unchanged plans, r11→r12); this figure makes cross-round
    // comparisons arithmetic: calibrated_total = total ×
    // (CALIB_REF / calib_sec). CALIB_REF pins the reference host's
    // STABILIZED-COLD ruler figure (0.38 s, local[32], 2026-08-14,
    // round-14 convention — see the divisor comment below), so
    // artifacts of any length report comparable calib values; on the
    // reference host calibrated == raw, and any future artifact's
    // deviation is host drift, readable without prose.
    val CalibRef = sys.env.getOrElse("SPARK_GRAFT_CALIB_REF", "0.38").toDouble
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 160L * 1000 * 1000, 1L, 32)
        .selectExpr("id", "xxhash64(id) AS h")
        .groupBy(org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("h"),
          org.apache.spark.sql.functions.lit(1024L)).as("b"))
        .agg(org.apache.spark.sql.functions.sum("id").as("s"),
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // Warm-until-stable: the ruler is JIT-sensitive (~2× between a cold
    // session and a warmed one — measured while pinning CALIB_REF), so a
    // fixed warm-count under-warms a cold session and over-spends on a
    // warm one. Sample until two CONSECUTIVE samples agree within 10%
    // (capped), report the stabilized min of that agreeing pair, and
    // record the full sample list in the artifact so a
    // never-stabilized (still-contended) ruler is self-diagnosing.
    // Policy (measured on 20-sample curves): a cold session descends
    // 0.85 → 0.46 → ~0.40 and flattens around sample 5-6; a suite-warmed
    // session starts near the floor already. A bare two-consecutive-
    // agreement rule stops on the sample-3 shoulder (~0.52) in a cold
    // session, so at least MIN_ITER samples are always taken and the
    // figure is the min of the last 3 (noise-robust) — with that, cold
    // and warmed sessions report within ~10% of each other.
    def stabilizedCalib(maxIter: Int = 10): (Double, Seq[Double]) = {
      // at least one sample regardless of the env override — a cap of
      // 0 would leave the sample list empty and crash the min below
      val cap = math.max(1, sys.env.get("SPARK_GRAFT_CALIB_MAX_ITER")
        .map(_.toInt).getOrElse(maxIter))
      val minIter = sys.env.get("SPARK_GRAFT_CALIB_MIN_ITER")
        .map(_.toInt).getOrElse(6)
      val samples = scala.collection.mutable.ArrayBuffer.empty[Double]
      var stable = false
      while (!stable && samples.length < cap) {
        samples += calibrate()
        val n = samples.length
        stable = n >= minIter && n >= 2 &&
          math.abs(samples(n - 1) - samples(n - 2)) <=
            0.10 * math.min(samples(n - 1), samples(n - 2))
      }
      (samples.takeRight(3).min, samples.toSeq)
    }
    val (calibStart, calibStartSamples) = stabilizedCalib()

    // Iteration knobs (unset = the driver contract: every query, once):
    // SPARK_GRAFT_ONLY=a,b,c times a subset; SPARK_GRAFT_REPEAT=n runs
    // each query n times and records the minimum (separates host noise
    // from plan cost on a contended box).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt.max(1)

    // A failed query records -1 (not its elapsed time) so crashes are
    // distinguishable from fast successes; failures are also listed.
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // The host carries bursty external load (identical plans observed at
    // 0.4 s and 45 s minutes apart — BASELINE.md records a 104→487 s
    // spread on unchanged code), so a single sample misprices exactly
    // the queries that matter. Any run slower than this threshold keeps
    // re-sampling — up to SPARK_GRAFT_MAX_RETRIES extra runs with a
    // sleep between them so a burst has time to pass — until the two
    // fastest samples agree within 30% (then the minimum is believably
    // plan cost, not a lucky draw). Per-sample 1-min loadavg is recorded
    // so a still-contended artifact is self-diagnosing.
    val retryOver = sys.env.getOrElse("SPARK_GRAFT_RETRY_OVER_SEC", "5").toDouble
    val maxRetries = sys.env.getOrElse("SPARK_GRAFT_MAX_RETRIES", "3").toInt.max(0)
    val retrySleepMs = sys.env.getOrElse("SPARK_GRAFT_RETRY_SLEEP_MS", "4000").toLong
    def loadavg(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(' ')(0).toDouble
      catch { case _: Throwable => -1.0 }
    val results = selected.map { case (name, fn) =>
      def run(): (Double, Boolean, Double) = {
        // Queries that persist() intermediates leave them in the
        // CacheManager, which would let a repeat (or a later query with
        // an equal plan subtree) silently reuse them — drop all cached
        // plans so every timed run pays its own full cost.
        spark.catalog.clearCache()
        val load = loadavg()
        val t0 = System.nanoTime()
        val ok = try { drain(fn(spark, sfDir)); true }
                 catch { case e: Throwable =>
                   System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
                   false }
        (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0, ok, load)
      }
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean, Double)]
      (1 to repeat).foreach(_ => runs += run())
      // Two fastest successful samples within 30% of each other = the
      // minimum is corroborated, stop burning wall time.
      def corroborated: Boolean = {
        val oks = runs.filter(_._2).map(_._1).sorted
        oks.size >= 2 && oks(1) <= oks(0) * 1.3
      }
      var retries = 0
      while (runs.forall(_._2) && retries < maxRetries && !corroborated &&
             runs.filter(_._2).map(_._1).min > retryOver) {
        Thread.sleep(retrySleepMs)
        runs += run()
        retries += 1
      }
      val oks = runs.filter(_._2).map(_._1)
      (name, if (oks.nonEmpty) oks.min else -1.0, oks.nonEmpty,
        oks.toSeq, retries, runs.map(_._3).toSeq)
    }
    val qs = results.map { case (k, v, _, _, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false, _, _, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, true, _, _, _) => v }.sum
    // End-of-artifact calibration is a DIAGNOSTIC, not the divisor: after
    // a long suite the end sample reflects deep C2 warming from the
    // suite's own work (~0.27 s vs ~0.52 s stabilized-cold on the
    // reference host — measured), so normalizing by min(start, end) made
    // short and long artifacts incomparable by construction. The divisor
    // is the stabilized START figure, which any artifact — single-query
    // or full-suite — measures under a comparable JIT state once the
    // ruler takes its ≥6 warm samples; end ≫ start flags mid-run
    // contention, end < start is just warming. CALIB_REF = 0.38 pins
    // the reference host's stabilized-cold figure (round-14 start-based
    // convention; 20-sample cold curve flattens at 0.374-0.395, the
    // closing full-suite run started at 0.347 — within 10%).
    val (calibEnd, calibEndSamples) = stabilizedCalib()
    val calibSec = calibStart
    val calibratedTotal =
      if (calibSec > 0) total * (CalibRef / calibSec) else total
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir","calib_start_sec":$calibStart,"calib_end_sec":$calibEnd,"calib_ref_sec":$CalibRef,"calibrated_total_sec":$calibratedTotal}"""
    // Durable copy for the driver: sbt interleaves/truncates stdout, so a
    // bare println is not a reliable transport for the one-line contract.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $outFile: ${e.getMessage}") }
    // Self-contained per-query artifact, written by Bench itself so the
    // record can't lose its head to log truncation: every sample is
    // listed (so a slow-run retry is visible, not silently min'd away),
    // `retries` counts contention re-runs, `loads` carries the 1-min
    // /proc/loadavg read just before each sample (a contended run is
    // self-diagnosing), and the reported minimums sum to the headline
    // total by construction. All floats go through Locale.ROOT — a
    // comma-decimal JVM locale must not produce malformed JSON.
    def fmt(d: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val detail = results.map { case (k, v, ok, samples, retries, loads) =>
      val ss = samples.map(fmt).mkString("[", ",", "]")
      val ls = loads.map(fmt).mkString("[", ",", "]")
      s""""$k":{"sec":${fmt(v)},"ok":$ok,"samples":$ss,"retries":$retries,"loads":$ls}"""
    }.mkString("{", ",", "}")
    // Provenance: driver runs (no env) and deliberate closing runs must
    // not alias onto one filename — a repeat=1 driver sample overwriting
    // a committed repeat=3 closing artifact reads as a fake regression.
    // Driver/ad-hoc runs default to bench_times_driver.json; a closing
    // run opts into the committed path explicitly via
    // SPARK_GRAFT_BENCH_TIMES + SPARK_GRAFT_RUN_KIND=closing. As a belt
    // on those braces, a lower-repeat run refuses to clobber a
    // higher-repeat artifact and lands beside it instead.
    val runKind = sys.env.getOrElse("SPARK_GRAFT_RUN_KIND", "adhoc")
    val css = calibStartSamples.map(fmt).mkString("[", ",", "]")
    val ces = calibEndSamples.map(fmt).mkString("[", ",", "]")
    val detailJson =
      s"""{"sf":"$sfDir","cpus":$cpus,"repeat":$repeat,"run_kind":"$runKind","total_sec":${fmt(total)},"calib_start_sec":${fmt(calibStart)},"calib_end_sec":${fmt(calibEnd)},"calib_start_samples":$css,"calib_end_samples":$ces,"calib_ref_sec":${fmt(CalibRef)},"calibrated_total_sec":${fmt(calibratedTotal)},"n_queries":${results.size},"queries":$detail}"""
    val timesFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_TIMES",
      sys.props.getOrElse("user.dir", ".") + "/bench_times_driver.json")
    val timesPath = {
      val target = java.nio.file.Paths.get(timesFile)
      val priorRepeat =
        try {
          if (java.nio.file.Files.exists(target))
            """"repeat":(\d+)""".r
              .findFirstMatchIn(java.nio.file.Files.readString(target))
              .map(_.group(1).toInt)
          else None
        } catch { case _: Throwable => None }
      if (priorRepeat.exists(_ > repeat)) {
        val alt = java.nio.file.Paths.get(timesFile + s".repeat$repeat")
        System.err.println(s"[bench] $timesFile holds a repeat=${priorRepeat.get} " +
          s"artifact; this repeat=$repeat run writes $alt instead")
        alt
      } else target
    }
    try java.nio.file.Files.writeString(timesPath, detailJson + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $timesPath: ${e.getMessage}") }
    spark.stop()
    // Print last, on its own flushed line, after executor shutdown chatter.
    System.out.println(json)
    System.out.flush()
    // Fail-closed exit: any crashed query must surface in the process rc,
    // not only inside the JSON — a gate keyed on the exit code must not
    // pass a broken suite.
    if (results.exists(!_._3)) sys.exit(1)
  }
}
