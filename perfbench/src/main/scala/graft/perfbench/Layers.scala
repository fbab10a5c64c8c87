package graft.perfbench

import graft.cdc.MergeStats
import graft.lake.LakeTable

/** The per-layer metric set (BENCHMARK.json `per_layer`). Every traced run
  * reports all of them; a layer the workload leaves idle reports 0.
  */
object Layers {
  val metrics: Seq[(String, String)] = Seq(
    "cdc.Stream.self_s" -> "s",
    "cdc.Stream.prefetch_job_s" -> "s",
    "cdc.Merge.self_s" -> "s",
    "cdc.Merge.job_s" -> "s",
    "cdc.Merge.prepare_keys_ms_p50" -> "ms",
    "cdc.Merge.prepare_winners_ms_p50" -> "ms",
    "cdc.Merge.apply_ms_p50" -> "ms",
    "cdc.Merge.apply_driver_ms_p50" -> "ms",
    "cdc.Merge.files_written_per_batch" -> "count",
    "cdc.Merge.rows_written_per_event" -> "ratio",
    "cdc.Merge.bytes_written_per_event" -> "B",
    "cdc.Merge.conflict_ratio" -> "ratio",
    "cdc.Merge.task_cpu_s" -> "s",
    "cdc.Merge.gc_s" -> "s",
    "cdc.Merge.shuffle_write_mb" -> "MB",
    "lake.LakeTable.self_s" -> "s",
    "lake.LakeTable.load_ms" -> "ms",
    "lake.LakeTable.read_plan_ms_p50" -> "ms",
    "lake.LakeTable.live_files" -> "count",
    "lake.LakeTable.delta_files" -> "count",
    "lake.LakeTable.manifests" -> "count",
    "lake.LakeTable.bytes_per_row" -> "B",
    "lake.LakeTable.change_tasks" -> "count",
    "cdc.BucketBatchScan.tasks" -> "count",
    "cdc.BucketBatchScan.task_ms_p50" -> "ms",
    "cdc.BucketBatchScan.task_ms_max" -> "ms",
    "cdc.BucketBatchScan.rows_in" -> "count",
    "cdc.BucketBatchScan.task_gc_ms" -> "ms",
    "lake.GraftFileIndex.files_read" -> "count",
    "lake.GraftFileIndex.scan_rows" -> "count",
    "sql.self_s" -> "s",
    "sql.plan_ms_p50" -> "ms",
    "lake.Maintenance.self_s" -> "s",
    "lake.Maintenance.compact_job_s" -> "s",
    "lake.Maintenance.bytes_rewritten_mb" -> "MB",
    "lake.Maintenance.files_before" -> "count",
    "lake.Maintenance.files_after" -> "count",
    "ops.RelationalQueries_s" -> "s",
    "ops.TextQueries_s" -> "s",
    "ops.SimilarityQueries_s" -> "s",
    "ops.CdcQueries_s" -> "s",
    "ops.ReaderQueries_s" -> "s",
    "ops.MultimodalQueries_s" -> "s",
    "ops.WebQueries_s" -> "s",
    "ops.d6_embedding_neardup_s" -> "s",
    "ops.mm_audio_rms_s" -> "s",
    "ops.w4_global_rownum_s" -> "s",
    "ops.cdc_row_level_s" -> "s",
    "ops.cdc_replicate_stream_s" -> "s",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.core_util" -> "ratio",
    "spark.driver_uncovered_s" -> "s",
    "jvm.gc_s" -> "s",
    "trace.spans" -> "count",
    "trace.overhead_frac" -> "ratio")

  private val units = metrics.toMap
  def unitOf(k: String): String = units(k)

  /** All metrics, 0 where the workload did not touch the layer. Unknown
    * keys are a harness bug and fail loudly.
    */
  def complete(m: Map[String, Double]): Map[String, Double] = {
    val unknown = m.keySet -- units.keySet
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    metrics.map { case (k, _) => k -> m.getOrElse(k, 0.0) }.toMap
  }

  /** Shape of a table's current snapshot. */
  def lakeShape(t: LakeTable): Map[String, Double] = {
    val s = t.currentSnapshot
    val files = s.files
    val rows = files.map(_.rows).sum
    Map(
      "lake.LakeTable.live_files" -> files.size.toDouble,
      "lake.LakeTable.delta_files" -> files.count(_.delta).toDouble,
      "lake.LakeTable.manifests" -> s.manifests.size.toDouble,
      "lake.LakeTable.bytes_per_row" ->
        (if (rows > 0) files.map(_.bytes).sum.toDouble / rows else 0.0))
  }

  /** Write amplification of the merges that produced versions
    * (from, to], from snapshot diffs: files, rows and bytes each commit
    * added.
    */
  def writeAmp(t: LakeTable, from: Int, to: Int,
      stats: Seq[MergeStats]): Map[String, Double] = {
    val added = ((from + 1) to to).map { v =>
      val before = t.snapshot(v - 1).files.map(_.path).toSet
      t.snapshot(v).files.filterNot(f => before(f.path))
    }
    val events = stats.filter(_.applied).map(_.eventsIn).sum.toDouble
    val batches = math.max(1, added.size)
    Map(
      "cdc.Merge.files_written_per_batch" -> added.map(_.size).sum.toDouble / batches,
      "cdc.Merge.rows_written_per_event" ->
        (if (events > 0) added.flatten.map(_.rows).sum / events else 0.0),
      "cdc.Merge.bytes_written_per_event" ->
        (if (events > 0) added.flatten.map(_.bytes).sum / events else 0.0),
      "cdc.Merge.conflict_ratio" ->
        (if (events > 0) stats.map(_.conflicts).sum / events else 0.0))
  }

  /** Task counters of the merge's jobs in a window. */
  def mergeTasks(t: Tracer, lo: Double, hi: Double): Map[String, Double] = {
    val ks = Tracer.layerTasks(t, "cdc.Merge", lo, hi)
    Map(
      "cdc.Merge.job_s" -> Tracer.layerJobSeconds(t, "cdc.Merge", lo, hi),
      "cdc.Merge.task_cpu_s" -> ks.map(_.cpuNs).sum / 1e9,
      "cdc.Merge.gc_s" -> ks.map(_.gcMs).sum / 1000.0,
      "cdc.Merge.shuffle_write_mb" -> ks.map(_.shuffleWriteBytes).sum / 1048576.0)
  }

  /** Span self time rolled up per layer, as `<layer>.self_s`. */
  def selfSeconds(t: Tracer): Map[String, Double] =
    Tracer.selfTimes(t.allSpans).collect {
      case (l, ms) if units.contains(s"$l.self_s") => s"$l.self_s" -> ms / 1000.0
    }

  /** Driver-side part of each span named `name`: its wall minus the part
    * covered by Spark jobs.
    */
  def driverMs(t: Tracer, name: String): Seq[Double] = {
    val ivs = t.jobs.map(j => (j.startMs, j.endMs))
    t.allSpans.filter(_.name == name).map(s =>
      s.durMs - Tracer.covered(ivs, s.startMs, s.endMs))
  }
}
