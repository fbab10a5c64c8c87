package graft.perfbench

import graft.cdc.{CdcStream, Merge, MergeStats}
import graft.lake.LakeTable
import java.nio.file.Files

/** Closed-loop backlog drain: [[CdcStream.replayChunks]] replays a
  * Zipf-skewed ChangeGen log into a fresh 32-bucket copy-on-write table,
  * again and again until the run's time is spent.
  *
  * Shape: every chunk is larger than the table, so each batch takes the
  * merge's full-rewrite path; the time goes to the key argmax, the
  * winners scan and the CoW rewrite, with the replay's prefetch of chunk
  * k+1 overlapping the write of chunk k.
  *
  * e2e: latency = MergeStats.wallMs per batch, throughput = events
  * applied per second of total replay wall.
  */
object ReplayBacklog extends Workload {
  val name = "replay_backlog"

  val Buckets = 32
  val Domains = 50
  val Pages = 100
  val Chunks = 4
  val ChunkEvents = 12000L
  val Setups = 2
  val MinReplays = 2

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val nEvents = Chunks * ChunkEvents
    val shape = s"replay-$Domains-$Pages-$Chunks-$ChunkEvents"
    val cfg = inputs.config(nEvents, Domains, Pages)
    // the layout ChangeGen.writeLogDirs writes (one chunk-<i>-v3.parquet
    // directory per chunk), produced in a single job
    val in = inputs.cached(shape) { d =>
      val log = Files.createDirectories(d.resolve("log"))
      inputs.writeSlices(cfg, 0L, Chunks, ChunkEvents, log,
        i => f"chunk-$i%05d-v3.parquet", singleFile = false)
    }
    val logDir = in.resolve("log").toString
    val expected = inputs.cachedFingerprint(in, "final") {
      Harness.referenceFingerprint(inputs.events(in.resolve("log")))
    }

    var n = 0
    def freshTable(): LakeTable = {
      n += 1
      val dir = Harness.freshDir(scratch(s"replay-$n"))
      LakeTable.create(spark, dir, schemaId = 3, numBuckets = Buckets)
    }
    def drop(t: LakeTable): Unit = Harness.deleteDir(java.nio.file.Paths.get(t.dir))

    // set-up: a fresh table and a one-chunk replay, several times; the
    // first also warms the JVM, so set-up time is the median of the others
    val setupMs = (1 to Setups).map { _ =>
      val (ms, t) = Harness.timedMs {
        val t = freshTable()
        CdcStream.replayChunks(spark, logDir, t.dir, maxChunks = 1)
        t
      }
      drop(t)
      ms
    }
    heap.settle()

    // measured: whole-log replays into fresh tables until time is spent,
    // and at least MinReplays of them: one replay gives only Chunks
    // batches, too few for a steady median
    var attempted = 0L
    var failed = 0L
    val batches = Vector.newBuilder[Double]
    var events = 0L
    var wallMs = 0.0
    val lo = tracer.epochMs
    val deadline = Harness.nowMs + seconds * 1000.0
    var lastTable: Option[LakeTable] = None
    var lastStats: Seq[MergeStats] = Nil
    while (Harness.nowMs < deadline || attempted < MinReplays * (Chunks + 1)) {
      lastTable.foreach(drop)
      val t = freshTable()
      val (ms, stats) = Harness.timedMs(tracer.span("replayChunks", "cdc.Stream") {
        CdcStream.replayChunks(spark, logDir, t.dir)
      })
      val applied = stats.filter(_.applied)
      attempted += Chunks
      failed += Chunks - applied.size
      batches ++= applied.map(_.wallMs.toDouble)
      events += applied.map(_.eventsIn).sum
      wallMs += ms
      // every replay must land on the reference latest-wins state
      if (!Harness.check(s"replay $n final state", Harness.tableFingerprint(t),
          expected)) failed += 1
      attempted += 1
      lastTable = Some(t)
      lastStats = stats
    }
    val hi = tracer.epochMs
    val b = batches.result()

    val layers = if (!traced) Map.empty[String, Double] else {
      val t = lastTable.get
      val stream = Map(
        "cdc.Stream.prefetch_job_s" -> Tracer.layerJobSeconds(tracer, "cdc.Stream", lo, hi))
      val replayed = Layers.writeAmp(t, 0, t.currentVersion, lastStats) ++
        Layers.lakeShape(t) ++ Layers.mergeTasks(tracer, lo, hi) ++
        Tracer.sparkRollup(tracer, lo, hi, cores, heap.gcSeconds) ++ stream
      replayed ++ serialPhases(ctx, logDir) ++ Layers.selfSeconds(tracer)
    }
    lastTable.foreach(drop)
    Outcome(attempted, failed,
      e2e = Map(
        "latency_ms_p50" -> Harness.median(b),
        "throughput_per_s" -> events * 1000.0 / wallMs,
        "setup_s" -> Harness.median(setupMs.tail) / 1000.0),
      layers = layers,
      info = Map(
        "replay_backlog.ingest_eps" -> events * 1000.0 / wallMs,
        "replay_backlog.batch_ms_p50" -> Harness.median(b),
        "replay_backlog.batch_ms_max" -> b.max,
        "replay_backlog.batches" -> b.size.toDouble,
        "replay_backlog.replays" -> (attempted / (Chunks + 1)).toDouble))
  }

  /** The traced run's decomposition of a batch: each chunk driven
    * serially through prepareKeys → prepareWinners → applyBatch with
    * the prepared inputs, each step timed on its own.
    */
  private def serialPhases(ctx: Ctx, logDir: String): Map[String, Double] = {
    import ctx._
    val dir = Harness.freshDir(scratch("replay-serial"))
    val t = tracer.span("LakeTable.create", "lake.LakeTable") {
      LakeTable.create(spark, dir, schemaId = 3, numBuckets = Buckets)
    }
    val chunks = graft.core.Fs.list(java.nio.file.Paths.get(logDir))
      .map(_.toString).filter(_.contains("chunk-")).sorted
    val (keysMs, winMs, applyMs) = chunks.zipWithIndex.map { case (path, i) =>
      val batch = spark.read.schema(CdcStream.chunkSchema(3)).parquet(path)
      val (k, pk) = Harness.timedMs(tracer.span("prepareKeys", "cdc.Merge") {
        val pk = Merge.prepareKeys(batch).persist()
        Harness.noop(pk)
        pk
      })
      val (w, win) = Harness.timedMs(tracer.span("prepareWinners", "cdc.Merge") {
        val win = Merge.prepareWinners(batch, pk).persist()
        Harness.noop(win)
        win
      })
      val bytes = Harness.dirBytes(java.nio.file.Paths.get(path))
      val (a, _) = Harness.timedMs(tracer.span("applyBatch", "cdc.Merge") {
        Merge.applyBatch(spark, t, batch, epoch = i.toLong, batchSchemaVersion = 3,
          batchBytesHint = Some(bytes), preparedKeys = Some(pk),
          preparedWinners = Some(win))
      })
      (k, w, a)
    }.unzip3
    val (loadMs, _) = Harness.timedMs(tracer.span("LakeTable.load", "lake.LakeTable") {
      LakeTable.load(spark, dir).currentSnapshot
    })
    Harness.deleteDir(java.nio.file.Paths.get(dir))
    Map(
      "cdc.Merge.prepare_keys_ms_p50" -> Harness.median(keysMs),
      "cdc.Merge.prepare_winners_ms_p50" -> Harness.median(winMs),
      "cdc.Merge.apply_ms_p50" -> Harness.median(applyMs),
      "cdc.Merge.apply_driver_ms_p50" -> Harness.median(Layers.driverMs(tracer, "applyBatch")),
      "lake.LakeTable.load_ms" -> loadMs)
  }
}
