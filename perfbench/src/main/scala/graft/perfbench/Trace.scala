package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call into a layer. Times are epoch milliseconds with
  * sub-millisecond precision; `parent` is 0 for a root span, and all
  * spans under one root share its `trace` id.
  */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    layer: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** One Spark job, attributed to the layer that launched it. */
final case class JobRec(id: Int, layer: String, site: String, span: Long,
    startMs: Double, endMs: Double)

/** One finished task's counters. */
final case class TaskRec(job: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, recordsRead: Long)

/** One executed query, as the QueryExecutionListener saw it. */
final case class PlanRec(planMs: Double, filesRead: Long, scanRows: Long,
    logical: String)

/** Spans recorded around the harness's calls into the engine, plus the
  * Spark-side view of the same run. Disabled tracers record nothing and
  * register no listener: the untraced runs measure the engine alone.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val baseMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  def epochMs: Double = baseMs + System.nanoTime() / 1e6

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val SpanProp = "perfbench.span"

  /** Time `f` as a span of `layer`. Jobs `f` launches from this thread
    * carry the span id, so [[jobs]] can attribute harness-launched work.
    */
  def span[A](name: String, layer: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val (parent, trace) = outer.headOption.getOrElse((0L, id))
      stack.set((id, trace) :: outer)
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s"$id:$layer")
      val t0 = epochMs
      try f
      finally {
        spans.add(Span(id, parent, trace, name, layer, t0, epochMs))
        stack.set(outer)
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)

  // ---- Spark jobs and tasks, attributed to layers by call site ----
  private val jobStarts = new ConcurrentHashMap[Int, (String, String, Long, Double)]()
  private val jobRecs = new ConcurrentLinkedQueue[JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val taskRecs = new ConcurrentLinkedQueue[TaskRec]()

  // call site of each SQL execution: a job that adaptive execution or a
  // broadcast launches from Spark's own threads carries only its
  // execution id, and the execution's call site names the engine file
  private val execSites = new ConcurrentHashMap[Long, String]()

  private val jobListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        val root = s.rootExecutionId.filter(_ != s.executionId)
          .flatMap(r => Option(execSites.get(r)))
        execSites.put(s.executionId,
          root.filter(Tracer.layerOfSite(_).isDefined).getOrElse(s.description))
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val jobSite = prop("callSite.short")
        .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name))
        .getOrElse("")
      val execSite = prop("spark.sql.execution.id")
        .flatMap(id => Option(execSites.get(id.toLong)))
      val site = (jobSite +: execSite.toSeq).find(Tracer.layerOfSite(_).isDefined)
        .getOrElse(jobSite)
      val (spanId, spanLayer) = prop(SpanProp)
        .map { s => val i = s.indexOf(':'); (s.take(i).toLong, s.drop(i + 1)) }
        .getOrElse((0L, "harness"))
      val layer = Tracer.layerOfSite(site).getOrElse(spanLayer)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobStarts.put(e.jobId, (layer, site, spanId, e.time.toDouble))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (layer, site, span, t0) =>
        jobRecs.add(JobRec(e.jobId, layer, site, span, t0, e.time.toDouble))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        taskRecs.add(TaskRec(stageJob.getOrDefault(e.stageId, -1),
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.recordsRead))
      }
  }

  // ---- executed-plan metrics and planning phases ----
  private val planRecs = new ConcurrentLinkedQueue[PlanRec]()
  private val planListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
      val scans = collectWithSubqueries(qe.executedPlan) {
        case p: SparkPlan if p.nodeName.contains("Scan") &&
          !p.nodeName.contains("InMemory") => p
      }
      def metric(p: SparkPlan, k: String): Long =
        p.metrics.get(k).map(_.value).getOrElse(0L)
      planRecs.add(PlanRec(planMs, scans.map(metric(_, "numFiles")).sum,
        scans.map(metric(_, "numOutputRows")).sum, qe.logical.toString.take(4000)))
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
  }

  def jobs: Seq[JobRec] = jobRecs.asScala.toSeq.sortBy(_.startMs)
  def tasks: Seq[TaskRec] = taskRecs.asScala.toSeq

  /** The executed plan of the next query whose logical plan mentions
    * `tag`. The listener bus is asynchronous, so this waits for it to
    * arrive; [[clearPlans]] drops plans of queries that no longer matter.
    */
  def clearPlans(): Unit = planRecs.clear()

  def planOf(tag: String, timeoutMs: Long = 2000): Option[PlanRec] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def find = planRecs.asScala.find(_.logical.contains(tag))
    while (find.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(2)
    val hit = find
    hit.foreach(planRecs.remove)
    hit
  }

  def stop(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
  }
}

object Tracer {
  /** Engine source file → layer (module) name. */
  private val siteLayers = Seq(
    "Stream.scala" -> "cdc.Stream",
    "Merge.scala" -> "cdc.Merge",
    "BucketBatchScan.scala" -> "cdc.BucketBatchScan",
    "LakeTable.scala" -> "lake.LakeTable",
    "GraftFileIndex.scala" -> "lake.GraftFileIndex",
    "Maintenance.scala" -> "lake.Maintenance",
    "GraftSqlRule.scala" -> "sql",
    "GraftCatalog.scala" -> "sql",
    "ChangeGen.scala" -> "core.ChangeGen")

  def layerOfSite(site: String): Option[String] =
    siteLayers.collectFirst { case (f, l) if site.contains(s" at $f:") => l }

  /** Total length of the union of [lo, hi) intervals clipped to a window. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time per layer: each span's duration minus the part of it its
    * child spans cover.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      s.layer -> (s.durMs - covered(ch, s.startMs, s.endMs))
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Process-wide and per-layer Spark rollup over the window [lo, hi). */
  def sparkRollup(t: Tracer, lo: Double, hi: Double, cores: Int,
      gcSeconds: Double): Map[String, Double] = {
    val jobs = t.jobs.filter(j => j.startMs >= lo && j.startMs < hi)
    val jobIds = jobs.map(_.id).toSet
    val tasks = t.tasks.filter(k => jobIds(k.job))
    val wallMs = hi - lo
    val runMs = tasks.map(_.runMs).sum.toDouble
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.core_util" -> (if (wallMs > 0) runMs / (wallMs * cores) else 0.0),
      "spark.driver_uncovered_s" ->
        (wallMs - covered(jobs.map(j => (j.startMs, j.endMs)), lo, hi)) / 1000.0,
      "jvm.gc_s" -> gcSeconds)
  }

  /** Task counters summed over the jobs of one layer in a window. */
  def layerTasks(t: Tracer, layer: String, lo: Double, hi: Double): Seq[TaskRec] = {
    val ids = t.jobs.filter(j => j.layer == layer && j.startMs >= lo && j.startMs < hi)
      .map(_.id).toSet
    t.tasks.filter(k => ids(k.job))
  }

  def layerJobSeconds(t: Tracer, layer: String, lo: Double, hi: Double): Double =
    covered(t.jobs.filter(j => j.layer == layer && j.startMs >= lo && j.startMs < hi)
      .map(j => (j.startMs, j.endMs)), lo, hi) / 1000.0

  /** Write spans (one JSON line each), jobs and the rollup under `dir`. */
  def writeOut(dir: Path, t: Tracer, rollup: Map[String, Any]): Unit = {
    Files.createDirectories(dir)
    val spanLines = t.allSpans.map(s => Json(Map(
      "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
      "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    Files.writeString(dir.resolve("spans.jsonl"), spanLines.mkString("", "\n", "\n"))
    val jobLines = t.jobs.map(j => Json(Map(
      "job" -> j.id, "layer" -> j.layer, "site" -> j.site, "span" -> j.span,
      "start_ms" -> j.startMs, "end_ms" -> j.endMs)))
    Files.writeString(dir.resolve("jobs.jsonl"), jobLines.mkString("", "\n", "\n"))
    Files.writeString(dir.resolve("rollup.json"), Json(rollup) + "\n")
  }
}
