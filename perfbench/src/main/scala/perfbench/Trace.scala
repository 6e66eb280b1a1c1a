package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.plans.TopKPerKeyExec

/** Process- and thread-level readings the harness and the tracer share. */
object Probe {
  private val threads = ManagementFactory.getThreadMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def threadCpuNs(): Long = threads.getCurrentThreadCpuTime
  def threadCpuNs(id: Long): Long = threads.getThreadCpuTime(id)
  /** CPU time of every thread of this process, as the OS accounts it. */
  def processCpuNs(): Long = os.getProcessCpuTime
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  def codegenCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  /** Compile time so far, estimated as count × the histogram's mean: the
    * histogram keeps a sample of per-compile times, not their sum. */
  def codegenMs(): Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }
  /** (steal, total) jiffies of all CPUs from /proc/stat: time the host gave
    * this VM's CPUs to other tenants. (0, 0) where /proc is unavailable. */
  def cpuSteal(): (Long, Long) = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists()) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val xs = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (if (xs.length > 7) xs(7) else 0L, xs.sum)
      } finally src.close()
    }
  }
  /** Peak resident set (VmHWM) in MiB; 0 where /proc is unavailable. */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    }
  }
}

/** One recorded interval around a call into a layer. */
final class Span(val id: Int, val name: String, val parent: Int,
                 val runId: String, val startNs: Long, val startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  var threadCpuNs = 0L
  var compiles = 0L
  var codegenMs = 0.0
  var gcMs = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

final class JobRec(val jobId: Int, val span: Int, val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0L
  var execCpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
}

final class QeRec(val atMs: Long, val planningMs: Long,
                  val funcName: String, val topkRowsIn: Long)

/** Jobs and their task totals, each job tagged with the span that was
  * innermost on the submitting thread (a local property, which streaming
  * execution threads inherit from the thread that starts the query). */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = new JobRec(e.jobId, span, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.execCpuNs += m.executorCpuTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }
}

/** Analysis, optimization and planning time of each finished query, plus
  * the rows that entered TopKPerKey k-cuts in its final physical plan. */
final class QeListener extends QueryExecutionListener {
  val recs = ArrayBuffer[QeRec]()

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val at = phases.get("planning").map(_.startTimeMs)
      .getOrElse(System.currentTimeMillis())
    val rec = new QeRec(at, phases.values.map(_.durationMs).sum, funcName,
      QeListener.topkRowsIn(qe.executedPlan))
    synchronized { recs += rec }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

object QeListener {
  private def rowsOut(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => rowsOut(a.executedPlan)
    case s: QueryStageExec => rowsOut(s.plan)
    case _ =>
      p.metrics.get("numOutputRows")
        .orElse(p.metrics.get("shuffleRecordsWritten"))
        .map(_.value)
        .getOrElse(p.children.map(rowsOut).sum)
  }

  /** Rows fed into every TopKPerKey instance (partial and final). */
  def topkRowsIn(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => topkRowsIn(a.executedPlan)
    case s: QueryStageExec => topkRowsIn(s.plan)
    case t: TopKPerKeyExec => rowsOut(t.child) + topkRowsIn(t.child)
    case _ => p.children.map(topkRowsIn).sum
  }
}

/** Spans around layer calls, kept in memory until the run ends. Disabled,
  * every method is a pass-through, so untraced runs pay nothing. */
final class Tracer(spark: SparkSession, val enabled: Boolean,
                   val runId: String) {
  private val sc = spark.sparkContext
  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val held = ArrayBuffer[DataFrame]()
  val jobs = new JobListener
  val qes = new QeListener
  if (enabled) {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(qes)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        runId, System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      val cpu0 = Probe.threadCpuNs()
      val cc0 = Probe.codegenCompiles()
      val cm0 = Probe.codegenMs()
      val gc0 = Probe.gcMs()
      try body
      finally {
        s.threadCpuNs += Probe.threadCpuNs() - cpu0
        s.compiles = Probe.codegenCompiles() - cc0
        s.codegenMs = Probe.codegenMs() - cm0
        s.gcMs = Probe.gcMs() - gc0
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp,
          parent.map(_.id.toString).orNull)
      }
    }

  /** A layer call whose output is a frame. Traced, the output is
    * materialized inside the span (a local checkpoint), so the time lands
    * on the layer that did the work; the blocks are held until [[release]]. */
  def layer(name: String)(df: => DataFrame): DataFrame =
    if (!enabled) df
    else span(name) {
      val d = df.localCheckpoint(eager = true)
      held += d
      d
    }

  /** CPU burnt by a thread other than the caller on the open spans' behalf
    * (a streaming query's execution thread). */
  def addThreadCpu(ns: Long): Unit =
    if (enabled) stack.foreach(_.threadCpuNs += ns)

  def release(): Unit = { held.foreach(Tracer.free); held.clear() }

  def finish(): TraceReport = {
    release()
    PerfbenchAccess.drainListenerBus(sc)
    new TraceReport(spans.toVector,
      jobs.synchronized(jobs.jobs.values.toVector),
      qes.synchronized(qes.recs.toVector))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Drop the blocks behind a localCheckpoint'ed frame. */
  def free(df: DataFrame): Unit = df.queryExecution.logical.foreach {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ =>
  }
}

/** Read-side of a finished trace: self times and counter totals per span
  * name, per layer (the name's prefix before the first dot), or per op. */
final class TraceReport(val spans: Vector[Span], val jobs: Vector[JobRec],
                        val qes: Vector[QeRec]) {
  private val children: Map[Int, Vector[Span]] = spans.groupBy(_.parent)
  private val jobsBySpan: Map[Int, Vector[JobRec]] = jobs.groupBy(_.span)

  def named(name: String): Vector[Span] = spans.filter(_.name == name)
  def inLayer(layer: String): Vector[Span] =
    spans.filter(_.name.startsWith(layer + "."))

  def subtree(s: Span): Vector[Span] =
    s +: children.getOrElse(s.id, Vector.empty).flatMap(subtree)

  def selfSeconds(s: Span): Double =
    s.seconds - children.getOrElse(s.id, Vector.empty).map(_.seconds).sum
  def selfThreadCpuNs(s: Span): Long =
    s.threadCpuNs - children.getOrElse(s.id, Vector.empty).map(_.threadCpuNs).sum

  def selfJobs(s: Span): Vector[JobRec] = jobsBySpan.getOrElse(s.id, Vector.empty)
  def allJobs(s: Span): Vector[JobRec] = subtree(s).flatMap(selfJobs)

  /** Share of the spans' wall during which at least one job (any job)
    * was running. */
  def busyShare(ss: Seq[Span]): Double = {
    val total = ss.map(s => (s.endMs - s.startMs).toDouble).sum
    if (total <= 0) 0.0
    else {
      val intervals = jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs))
        .sortBy(_._1)
      val busy = ss.map { s =>
        var covered = 0L
        var cursor = s.startMs
        intervals.foreach { case (a0, b0) =>
          val a = math.max(a0, cursor)
          val b = math.min(b0, s.endMs)
          if (b > a) { covered += b - a; cursor = b }
        }
        covered.toDouble
      }.sum
      busy / total
    }
  }

  /** Query executions whose planning started inside one of the spans. */
  def qesIn(ss: Seq[Span]): Vector[QeRec] =
    qes.filter(q => ss.exists(s => q.atMs >= s.startMs && q.atMs <= s.endMs))
}
