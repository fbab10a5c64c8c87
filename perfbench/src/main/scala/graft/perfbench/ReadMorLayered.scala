package graft.perfbench

import graft.cdc.Merge
import graft.lake.{LakeTable, Maintenance}
import org.apache.spark.sql.functions._

/** Closed-loop reads by one client over a layered merge-on-read table:
  * the base crawl plus `Epochs` uncompacted hot-key epochs, each one
  * delta file per bucket. The client repeats a fixed mix:
  *
  *  - narrow: `readUser().count()` (count is the operation measured);
  *  - full: `sum(octet_length(html))`, an aggregate that needs the payload;
  *  - point: SQL `SELECT … FROM graft.`dir` WHERE url = ?` over a seeded
  *    url set, through the noop sink;
  *  - changes: `changesBetween(v − Epochs, v)` through the noop sink.
  *
  * and ends with one `Maintenance.compact`. Every read result must equal
  * the same read after the fold.
  *
  * e2e: latency = one pass of the mix, as the sum of each operation's
  * median; throughput = reads/s.
  */
object ReadMorLayered extends Workload {
  val name = "read_mor_layered"

  val Buckets = 32
  val Epochs = 2
  val EpochEvents = 2000L
  val Setups = 2
  val PointUrls = 8
  val WarmPasses = 2

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val epochs = Fixtures.hot(ctx, Epochs, EpochEvents)
    val expected = inputs.cachedFingerprint(epochs.head.getParent, "final") {
      Harness.referenceFingerprint(inputs.events(Fixtures.base(ctx))
        .unionByName(inputs.events(epochs.head.getParent)))
    }

    // set-up: base load + uncompacted hot epochs, several times; the
    // first build also warms the JVM, so set-up time is the median of the
    // others
    val built = (1 to Setups).map { i =>
      Harness.timedMs {
        val t = Fixtures.morTable(ctx, scratch(s"read-table-$i"), Buckets)
        epochs.zipWithIndex.foreach { case (p, e) =>
          Merge.applyBatch(spark, t, inputs.events(p), epoch = e.toLong,
            batchSchemaVersion = 3)
        }
        t
      }
    }
    val t = built.last._2
    built.init.foreach(b => Harness.deleteDir(java.nio.file.Paths.get(b._2.dir)))
    val v = t.currentVersion
    require(t.currentSnapshot.files.exists(_.delta), "fixture has no delta layers")
    // seeded point-lookup urls: live urls of the hot set
    val urls = t.readUser().select("url").distinct().orderBy(xxhash64(col("url"), lit(seed)))
      .limit(PointUrls).collect().map(_.getString(0)).toSeq
    heap.settle()

    def pointSql(u: String) =
      s"SELECT url, warc_ts, lang, octet_length(html) AS n FROM graft.`${t.dir}` " +
        s"WHERE url = '$u'"
    val ops: Seq[(String, String, Int => Unit)] = Seq(
      ("read_narrow", "cdc.BucketBatchScan", _ => planned(ctx, t).count()),
      ("read_full", "cdc.BucketBatchScan", _ =>
        planned(ctx, t).agg(sum(octet_length(col("html")))).head()),
      ("read_point", "sql", i => Harness.noop(spark.sql(pointSql(urls(i % urls.size))))),
      ("changes", "lake.LakeTable", _ =>
        Harness.noop(t.changesBetween(v - Epochs, v))))
    // results before the fold, computed untimed; this pass also pays the
    // JIT and file-system warmup the measured passes should not
    def results(): Seq[Any] = Seq(
      t.readUser().count(),
      t.readUser().agg(sum(octet_length(col("html")))).head().getLong(0),
      urls.map(u => spark.sql(pointSql(u)).collect().toSeq.map(_.toString).sorted),
      Harness.fingerprint(t.changesBetween(v - Epochs, v), graft.core.Schemas.LsnCol))
    val before = results()
    // so far the read paths ran once (the fixture builds warm only the
    // write paths): the mix runs WarmPasses more times, untimed, so the
    // measured passes do not pay the JVM's warm-up of the read paths
    (1 to WarmPasses).foreach(i => ops.foreach(_._3(i)))
    // the layered state itself, checked untimed before the fold: the
    // reads after the fold are compared with these
    var failed = 0L
    if (!Harness.check("layered fixture state", Harness.tableFingerprint(t), expected))
      failed += 1
    val samples = ops.map(_._1 -> Vector.newBuilder[Double]).toMap
    val passes = Vector.newBuilder[Double]
    val plans = Vector.newBuilder[PlanRec]
    Thread.sleep(if (traced) 500 else 0) // let the listener bus drain
    tracer.clearPlans()
    val lo = tracer.epochMs
    val deadline = Harness.nowMs + seconds * 1000.0
    var pass = 0
    while (Harness.nowMs < deadline || pass == 0) {
      val passMs = ops.map { case (op, layer, f) =>
        val (ms, _) = Harness.timedMs(tracer.span(op, layer)(f(pass)))
        if (traced && op == "read_point") plans ++= tracer.planOf(urls(pass % urls.size))
        samples(op) += ms
        ms
      }.sum
      passes += passMs
      pass += 1
    }
    val hi = tracer.epochMs
    val opsDone = pass.toLong * ops.size

    // fold the fixture; every read must answer the same afterwards
    val shapeBefore = Layers.lakeShape(t)
    val changeTasks = t.changeFileTasks(v - Epochs, v).size
    val foldLo = tracer.epochMs
    val (foldMs, _) = Harness.timedMs(tracer.span("compact", "lake.Maintenance")(
      Maintenance.compact(spark, t)))
    val foldHi = tracer.epochMs
    val after = results()
    before.zip(after).zip(ops.map(_._1)).foreach { case ((b, a), op) =>
      if (!Harness.check(s"$op after fold", a, b)) failed += 1
    }
    if (!Harness.check("folded fixture state", Harness.tableFingerprint(t), expected))
      failed += 1

    val layers = if (!traced) Map.empty[String, Double] else {
      val scan = Tracer.layerTasks(tracer, "cdc.BucketBatchScan", lo, hi)
      val scanMs = scan.map(_.runMs.toDouble)
      val planSpans = tracer.allSpans.filter(_.name == "readUser.plan").map(_.durMs)
      val point = plans.result()
      // bucket scans do not report a file count yet: fall back to the files
      // of the url's bucket, all of which a layered lookup must open
      val planFiles = point.map(_.filesRead).sum.toDouble / math.max(1, point.size)
      val bucketFiles = urls.map { u =>
        val b = spark.range(1).select(Merge.bucketOf(lit(u), Buckets)).head().getInt(0)
        t.snapshot(v).filesForBuckets(Set(b)).size.toDouble
      }.sum / urls.size
      val (loadMs, _) = Harness.timedMs(tracer.span("LakeTable.load", "lake.LakeTable") {
        LakeTable.load(spark, t.dir).currentSnapshot.files.size
      })
      val compacted = t.currentSnapshot
      val prev = t.snapshot(compacted.version - 1)
      val prevPaths = prev.files.map(_.path).toSet
      Map(
        "lake.LakeTable.load_ms" -> loadMs,
        "lake.LakeTable.read_plan_ms_p50" -> (if (planSpans.isEmpty) 0.0 else Harness.median(planSpans)),
        "lake.LakeTable.change_tasks" -> changeTasks.toDouble,
        "cdc.BucketBatchScan.tasks" -> scan.size.toDouble / math.max(1, pass),
        "cdc.BucketBatchScan.task_ms_p50" -> (if (scanMs.isEmpty) 0.0 else Harness.median(scanMs)),
        "cdc.BucketBatchScan.task_ms_max" -> (if (scanMs.isEmpty) 0.0 else scanMs.max),
        "cdc.BucketBatchScan.rows_in" -> scan.map(_.recordsRead).sum.toDouble / math.max(1, pass),
        "cdc.BucketBatchScan.task_gc_ms" -> scan.map(_.gcMs).sum.toDouble,
        "lake.GraftFileIndex.files_read" -> (if (planFiles > 0) planFiles else bucketFiles),
        "lake.GraftFileIndex.scan_rows" ->
          point.map(_.scanRows).sum.toDouble / math.max(1, point.size),
        "sql.plan_ms_p50" -> (if (point.isEmpty) 0.0 else Harness.median(point.map(_.planMs))),
        "lake.Maintenance.compact_job_s" ->
          Tracer.layerJobSeconds(tracer, "lake.Maintenance", foldLo, foldHi),
        "lake.Maintenance.bytes_rewritten_mb" ->
          compacted.files.filterNot(f => prevPaths(f.path)).map(_.bytes).sum / 1048576.0,
        "lake.Maintenance.files_before" -> prev.fileCount.toDouble,
        "lake.Maintenance.files_after" -> compacted.fileCount.toDouble) ++
        shapeBefore ++
        Tracer.sparkRollup(tracer, lo, hi, cores, heap.gcSeconds) ++
        Layers.selfSeconds(tracer)
    }
    Harness.deleteDir(java.nio.file.Paths.get(t.dir))
    val p = passes.result()
    def p50(op: String) = Harness.median(samples(op).result())
    Outcome(opsDone + ops.size + 2, failed,
      e2e = Map(
        "latency_ms_p50" -> ops.map(o => p50(o._1)).sum,
        "throughput_per_s" -> opsDone * 1000.0 / p.sum,
        "setup_s" -> Harness.median(built.tail.map(_._1)) / 1000.0),
      layers = layers,
      info = Map(
        "read_mor_layered.passes" -> pass.toDouble,
        "read_mor_layered.pass_ms_max" -> p.max,
        "read_mor_layered.read_narrow_ms_p50" -> p50("read_narrow"),
        "read_mor_layered.read_full_ms_p50" -> p50("read_full"),
        "read_mor_layered.read_point_ms_p50" -> p50("read_point"),
        "read_mor_layered.changes_ms_p50" -> p50("changes"),
        "read_mor_layered.pass_ms_p50" -> Harness.median(p),
        "read_mor_layered.fold_s" -> foldMs / 1000.0))
  }

  /** `readUser()` built and planned, timed as its own span when traced. */
  private def planned(ctx: Ctx, t: LakeTable) =
    ctx.tracer.span("readUser.plan", "lake.LakeTable") {
      val df = t.readUser()
      if (ctx.traced) df.queryExecution.executedPlan
      df
    }
}
