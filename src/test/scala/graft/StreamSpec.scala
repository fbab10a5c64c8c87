package graft

import graft.cdc.{CdcStream, Merge, Prefetch}
import graft.core.ChangeGen
import graft.lake.LakeTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Structured-Streaming tail + kill-and-restart-from-checkpoint: the
  * interrupted run must produce the identical snapshot chain as an
  * uninterrupted run (north star).
  */
class StreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // uniform producer schema (v3) for the streaming path
  private val cfg = ChangeGen.Config(nEvents = 4000, nDomains = 40,
    pagesPerDomain = 15, v1Frac = 0.0, v2Frac = 0.0)

  /** Deterministic chain fingerprint: schema, epoch, lineage + an
    * order-independent content hash of every snapshot's data.
    */
  private def fingerprint(t: LakeTable): Seq[String] =
    (0 to t.currentVersion).map { v =>
      val s = t.snapshot(v)
      val df = t.read(s)
      // order-independent content digest as (row count, SUM of row
      // hashes): bit_xor XOR-cancels any even number of duplicate rows —
      // exactly the duplicate-application bug this kill/restart test
      // exists to catch (round-2 test review)
      val hr = df.select(xxhash64(df.columns.map(col): _*).as("h"))
        .agg(count(expr("1")).as("n"),
          // decimal sum: long hashes overflow ANSI sum() immediately
          sum(col("h").cast("decimal(38,0)")).as("s")).head()
      val h = s"${hr.getLong(0)}:${hr.get(1)}"
      Seq(s.schemaId, s.epoch.getOrElse(-1L),
        s.summary.getOrElse("events-in", "-"),
        s.summary.getOrElse("rows-applied", "-"),
        s.summary.getOrElse("conflict-count", "-"),
        s.summary.getOrElse("source-lsn-min", "-"),
        s.summary.getOrElse("source-lsn-max", "-"), h).mkString("|")
    }

  test("streaming tail drains the log; restart resumes from checkpoint; " +
    "chains match an uninterrupted run; sink-ahead replay is skipped") {
    val stage = TestSpark.tempDir("stage")
    val chunks = ChangeGen.writeLog(spark, cfg, stage, nChunks = 8)

    // --- uninterrupted run ---
    val logA = TestSpark.tempDir("logA")
    chunks.foreach(c => copyChunk(c, logA))
    val dirA = TestSpark.tempDir("tableA")
    LakeTable.create(spark, dirA, schemaId = 3, numBuckets = 8)
    CdcStream.tailAll(spark, logA, dirA, TestSpark.tempDir("ckA"))
    val tA = LakeTable.load(spark, dirA)
    assert(tA.currentVersion == 8) // v0 + 8 single-file batches

    // the progress sink captured Spark's per-trigger throughput/lag view
    // (listener bus is async — allow it a moment to drain)
    val progress = Paths.get(dirA, "metrics", "stream_progress.jsonl")
    val deadline = System.nanoTime() + 10_000_000_000L
    while ((!Files.exists(progress) ||
        Files.readAllLines(progress).size() < 8) &&
        System.nanoTime() < deadline) Thread.sleep(100)
    val lines = Files.readAllLines(progress)
    assert(lines.size() >= 8)
    assert(lines.get(0).contains("\"numInputRows\"")
      && lines.get(0).contains("\"triggerExecution\""))

    // per-partition lineage: every epoch's bucket rows sum back to the
    // batch totals stamped in the snapshot summary
    val pl = graft.cdc.Metrics.readPartitionLineage(dirA)
    assert(pl.map(_._1).distinct.sorted == (0L to 7L))
    (1 to 8).foreach { v =>
      val s = tA.snapshot(v)
      val rows = pl.filter(_._1 == s.epoch.get).map(_._2)
      assert(rows.map(_.events).sum == s.summary("events-in").toLong)
      assert(rows.map(_.conflicts).sum == s.summary("conflict-count").toLong)
      assert(rows.map(_.lsnMax).max == s.summary("source-lsn-max").toLong)
      assert(rows.size == s.summary("touched-buckets").toInt)
    }

    // --- interrupted run: first 3 chunks, "crash", then the rest ---
    val logB = TestSpark.tempDir("logB")
    chunks.take(3).foreach(c => copyChunk(c, logB))
    val dirB = TestSpark.tempDir("tableB")
    val ckB = TestSpark.tempDir("ckB")
    LakeTable.create(spark, dirB, schemaId = 3, numBuckets = 8)
    CdcStream.tailAll(spark, logB, dirB, ckB)
    val tB = LakeTable.load(spark, dirB)
    assert(tB.currentVersion == 3)

    // simulate "sink committed but checkpoint lost the batch": apply chunk 3
    // directly at the epoch the restarted stream will use — with the same
    // size hint the stream would pass, so the merge picks the same
    // prune/full-rewrite path and the chains stay byte-comparable
    val batch3 = spark.read.parquet(chunks(3))
    val hint = batch3.queryExecution.optimizedPlan.stats.sizeInBytes
    val direct = Merge.applyBatch(spark, tB, batch3, epoch = 3,
      batchSchemaVersion = 3,
      batchBytesHint = Some(hint.min(BigInt(Long.MaxValue)).toLong),
      // the sink-ahead write is IN this tail's epoch sequence, so it
      // gates (and advances) THAT CHECKPOINT's namespace — tail gates are
      // per-checkpoint so a different checkpoint/replay cannot collide
      gateKey = CdcStream.gateKeyFor(ckB))
    assert(direct.applied)

    // …restart: the stream re-delivers epoch 3; the gate must skip it.
    // The resumed checkpoint makes no pre-start prediction, so no
    // prefetch is wasted on a mispredicted file set
    chunks.drop(3).foreach(c => copyChunk(c, logB))
    val misses0 = Prefetch.misses.get()
    CdcStream.tailAll(spark, logB, dirB, ckB)
    assert(tB.currentVersion == 8, "duplicate epoch was applied twice")
    assert(Prefetch.misses.get() == misses0,
      "the resumed tail discarded a mispredicted prefetch")

    // identical snapshot chains, byte-identical content at every version
    assert(fingerprint(tB) == fingerprint(tA))
  }

  test("continuous tail (ProcessingTime): files dropped after start are " +
    "applied without restart; chain equals a drain run") {
    val stage = TestSpark.tempDir("followStage")
    val chunks = ChangeGen.writeLog(spark, cfg, stage, nChunks = 8)

    // drain-run reference chain
    val logA = TestSpark.tempDir("followLogA")
    chunks.foreach(c => copyChunk(c, logA))
    val dirA = TestSpark.tempDir("followTableA")
    LakeTable.create(spark, dirA, schemaId = 3, numBuckets = 8)
    CdcStream.tailAll(spark, logA, dirA, TestSpark.tempDir("followCkA"))
    val tA = LakeTable.load(spark, dirA)

    // follow run: only half the log exists at start
    val logB = TestSpark.tempDir("followLogB")
    chunks.take(4).foreach(c => copyChunk(c, logB))
    val dirB = TestSpark.tempDir("followTableB")
    LakeTable.create(spark, dirB, schemaId = 3, numBuckets = 8)
    val tB = LakeTable.load(spark, dirB)
    val q = CdcStream.tail(spark, logB, dirB, TestSpark.tempDir("followCkB"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(200L))
    def waitForVersion(v: Int): Unit = {
      val deadline = System.nanoTime() + 120_000_000_000L
      while (tB.currentVersion < v && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(tB.currentVersion == v,
        s"follow tail stalled at v${tB.currentVersion}, wanted v$v")
    }
    try {
      waitForVersion(4)
      // drop the rest of the log into the live stream — the resident
      // trigger must pick them up with no restart
      chunks.drop(4).foreach(c => copyChunk(c, logB))
      waitForVersion(8)
    } finally q.stop()
    assert(fingerprint(tB) == fingerprint(tA))
  }

  test("gate upgrade: a pre-upgrade checkpoint seeds its namespace from " +
    "the legacy shared gate; fresh checkpoints never inherit it") {
    import spark.implicits._
    val tableDir = TestSpark.tempDir("seed-table")
    val t = LakeTable.create(spark, tableDir, schemaId = 3, numBuckets = 4)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def batch(lsn: Long, url: String) =
      Seq((lsn, "U", url, ts, null: Array[Byte], s"text $lsn", "en", 6L))
        .toDF("lsn", "op", "url", "warc_ts", "html", "text", "lang", "content_len")
    // legacy history: batches 0..2 committed under the SHARED gate (what a
    // pre-upgrade tail wrote), and the checkpoint has committed batches
    (0 to 2).foreach { e =>
      assert(Merge.applyBatch(spark, t, batch(e, s"http://u$e"), e, 3,
        gateKey = CdcStream.StreamGateKey).applied)
    }
    val oldCk = TestSpark.tempDir("seed-ck-old")
    Files.createDirectories(Paths.get(oldCk, "commits"))
    Files.writeString(Paths.get(oldCk, "commits", "2"), "v1")

    CdcStream.seedGateFromLegacy(t, oldCk)
    val gk = CdcStream.gateKeyFor(oldCk)
    assert(t.currentSnapshot.summary.get(gk).contains("2"))
    // the crash-replayed pre-upgrade batch now gates instead of reapplying
    assert(!Merge.applyBatch(spark, t, batch(2, "http://u2"), 2, 3,
      gateKey = gk).applied)
    assert(Merge.applyBatch(spark, t, batch(3, "http://u3"), 3, 3,
      gateKey = gk).applied)
    // seeding is one-time: the namespace now exists, re-seed is a no-op
    val v = t.currentVersion
    CdcStream.seedGateFromLegacy(t, oldCk)
    assert(t.currentVersion == v)

    // a FRESH checkpoint (no committed batches) must NOT inherit the
    // legacy high-water — its batchIds start at 0 and would be swallowed
    val freshCk = TestSpark.tempDir("seed-ck-fresh")
    CdcStream.seedGateFromLegacy(t, freshCk)
    assert(t.currentSnapshot.summary.get(CdcStream.gateKeyFor(freshCk)).isEmpty)
    assert(Merge.applyBatch(spark, t, batch(10, "http://u10"), 0, 3,
      gateKey = CdcStream.gateKeyFor(freshCk)).applied)

    // a REPLAY-inflated legacy high-water (chunk epochs far above this
    // checkpoint's own committed batches) must refuse to seed: gating a
    // tail's future batches from it would be silent data loss, strictly
    // worse than the duplicate-lineage window the seed exists to close
    assert(Merge.applyBatch(spark, t, batch(11, "http://u11"), 40, 3,
      gateKey = CdcStream.StreamGateKey).applied) // "replay" pushes legacy to 40
    val mixedCk = TestSpark.tempDir("seed-ck-mixed")
    Files.createDirectories(Paths.get(mixedCk, "commits"))
    Files.writeString(Paths.get(mixedCk, "commits", "0"), "v1")
    CdcStream.seedGateFromLegacy(t, mixedCk)
    val mixedGk = CdcStream.gateKeyFor(mixedCk)
    assert(t.currentSnapshot.summary.get(mixedGk).isEmpty)
    assert(Merge.applyBatch(spark, t, batch(12, "http://u12"), 1, 3,
      gateKey = mixedGk).applied) // the tail's batch 1 is NOT swallowed
  }

  test("epoch namespaces: a batch merge between stream batches cannot swallow them") {
    import spark.implicits._
    val dir = TestSpark.tempDir("nsTable")
    val t = LakeTable.create(spark, dir, schemaId = 3, numBuckets = 4)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def batch(lsn: Long, url: String) =
      Seq((lsn, "U", url, ts, null: Array[Byte], s"t$lsn", "en", 2L))
        .toDF("lsn", "op", "url", "warc_ts", "html", "text", "lang", "content_len")
    // stream applies batchIds 0 and 1 in its own namespace
    assert(Merge.applyBatch(spark, t, batch(1, "http://s0"), 0, 3,
      gateKey = CdcStream.StreamGateKey).applied)
    assert(Merge.applyBatch(spark, t, batch(2, "http://s1"), 1, 3,
      gateKey = CdcStream.StreamGateKey).applied)
    // an interleaved batch (SQL/CLI) merge allocates last-epoch + 1 = 2
    val sqlEpoch = t.lastCommittedEpoch.get + 1
    assert(Merge.applyBatch(spark, t, batch(3, "http://b"), sqlEpoch, 3).applied)
    // the stream's NEXT batchId is also 2 — it must still apply (a shared
    // gate would silently swallow it: the round-2 review data-loss bug)
    assert(Merge.applyBatch(spark, t, batch(4, "http://s2"), 2, 3,
      gateKey = CdcStream.StreamGateKey).applied)
    // while a true stream replay of batchId 1 still no-ops
    assert(!Merge.applyBatch(spark, t, batch(2, "http://s1"), 1, 3,
      gateKey = CdcStream.StreamGateKey).applied)
    assert(t.readUser().count() == 4)
    // both high-waters survive a compaction + metadata commit
    graft.lake.Maintenance.compact(spark, t)
    t.updateProperties(Map("note" -> "x"))
    val sum = t.currentSnapshot.summary
    assert(sum("stream-epoch") == "2" && sum("last-epoch").toLong >= sqlEpoch)
    assert(sum.contains("watermark-ms"))
  }

  private def copyChunk(src: String, dstDir: String): Unit = {
    val s = Paths.get(src)
    val d = Paths.get(dstDir).resolve(s.getFileName)
    Files.copy(s, d, StandardCopyOption.COPY_ATTRIBUTES,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
