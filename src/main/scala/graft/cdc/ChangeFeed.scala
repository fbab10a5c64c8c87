package graft.cdc

import graft.lake.LakeTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** The CDC *output* side as a followable stream (round-3 verdict #2):
  * a long-lived driver loop that, per poll, emits
  * `changesBetween(lastEmitted, current)` and checkpoints the emitted
  * version — the changelog twin of the binlog tail's re-polled queue
  * (reference analog: /root/reference/query_queues.sh:1-19).
  *
  * Delivery contract (same gate discipline as the tail, inverted to the
  * consumer side):
  *  - the consumer callback runs BEFORE the checkpoint advances, so a
  *    crash between the two re-emits the same delta on restart —
  *    at-least-once delivery whose re-application is idempotent for any
  *    consumer that applies deltas by the engine's argmax merge keyed on
  *    the emitted `to` version (the ChangesSpec replica does exactly
  *    that; the CLI writes each delta to a range-keyed directory with
  *    overwrite, the quarantine discipline).
  *  - the FIRST emission of a fresh checkpoint is the initial changelog
  *    (`from = -1`): the full current snapshot. Consumers must treat
  *    `from == -1` as "replace state", not "merge delta" — after a
  *    retention breach or tombstone purge that is the only correct
  *    resync, because a merge-applied full snapshot cannot delete rows
  *    the source dropped.
  *  - if the checkpointed version falls behind the table's retention
  *    horizon, or a purge-tombstones compaction lands inside the pending
  *    range, `changesBetween` refuses the range; with `rebootstrap =
  *    true` the follower resets to a full-snapshot emission instead of
  *    failing (operator opt-in, because the consumer must implement
  *    replace-on-bootstrap for it to be sound).
  *
  * Scale shape: each poll is metadata-first (manifest-ref diff) and the
  * emitted plan reads only changed buckets — a quiet table costs one
  * version listing per poll, no executor work.
  */
object ChangeFeed {

  /** One emission: the delta (or, for from = -1, full snapshot) that
    * moved the feed's checkpoint to `to`. `rows` is whatever the
    * consumer callback reported (its durably-landed row count).
    */
  final case class Emitted(from: Int, to: Int, rows: Long)

  /** Last version this checkpoint emitted; -1 for a fresh feed. */
  def lastEmitted(checkpointFile: String): Int = {
    val p = Paths.get(checkpointFile)
    if (!Files.exists(p)) -1
    else Files.readString(p).trim.toInt
  }

  private def writeCheckpoint(checkpointFile: String, version: Int): Unit = {
    val p = Paths.get(checkpointFile)
    Option(p.getParent).foreach(Files.createDirectories(_))
    val tmp = p.resolveSibling(s".${p.getFileName}.tmp")
    Files.writeString(tmp, version.toString)
    // atomic replace: a crash mid-write can never leave a torn version,
    // and single-writer-per-checkpoint makes replace (not link) correct
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** One poll: if the table advanced past the checkpoint, hand
    * `(from, to, delta)` to `onDelta` (which returns the row count it
    * landed), then checkpoint `to`. Returns the emission, or None if the
    * feed is already caught up.
    */
  def pollOnce(spark: SparkSession, tableDir: String, checkpointFile: String,
      onDelta: (Int, Int, DataFrame) => Long,
      rebootstrap: Boolean = false,
      cdf: Boolean = false): Option[Emitted] = {
    val table = LakeTable.load(spark, tableDir)
    def changes(f: Int, t: Int): DataFrame =
      if (cdf) table.changesBetweenCdf(f, t) else table.changesBetween(f, t)
    val current = table.currentVersion
    val from = lastEmitted(checkpointFile)
    if (current <= from) return None
    val (effFrom, delta) =
      try (from, changes(from, current))
      catch {
        // retention breach (expired `from`) or purge inside the range:
        // with the operator's opt-in, degrade to a full-snapshot resync
        // instead of a permanently-crashed feed
        case e @ (_: IllegalArgumentException | _: IllegalStateException)
            if rebootstrap && from >= 0 =>
          System.err.println(s"[graft] change feed $checkpointFile cannot " +
            s"read v$from->v$current (${e.getMessage}); re-bootstrapping " +
            "with a full snapshot")
          (-1, changes(-1, current))
      }
    val rows = onDelta(effFrom, current, delta)
    writeCheckpoint(checkpointFile, current)
    Some(Emitted(effFrom, current, rows))
  }

  /** Replicate a source lake table into a replica lake table by tailing
    * its changelog — the whole CDC-out consumer as one call (CLI:
    * `replicate`). Per emission the delta is applied through the
    * replica's own argmax merge at epoch = the emitted `to` version in a
    * per-checkpoint gate namespace, so a crash between consume and
    * checkpoint re-applies idempotently (the same exactly-once shape as
    * the binlog tail). A `from = -1` emission (fresh feed, or a
    * retention/purge rebootstrap) applies as a TRUNCATE — replace-state,
    * the only correct resync, because a merge-applied full snapshot
    * cannot delete rows the source dropped. One rare corner stays
    * documented rather than handled: a bootstrap of a source purged to
    * EMPTY no-ops (the engine never publishes zero-event epochs), so a
    * stale non-empty replica of a fully-emptied source keeps its rows.
    *
    * Schema evolution follows automatically: operationally-minted
    * schema files (ALTER TABLE) are copied from the source's registry
    * dir before each apply, so the replica resolves the source's
    * schemaId exactly like a second reader of the same table would.
    */
  def replicate(spark: SparkSession, sourceDir: String, replicaDir: String,
      checkpointFile: String,
      intervalMs: Long = 5000L,
      durationMs: Option[Long] = None,
      until: () => Boolean = () => false,
      rebootstrap: Boolean = false): Seq[Emitted] = {
    val source = LakeTable.load(spark, sourceDir)
    if (!LakeTable.exists(replicaDir)) {
      val s = source.currentSnapshot
      LakeTable.create(spark, replicaDir, schemaId = s.schemaId,
        numBuckets = s.numBuckets)
      syncMintedSchemas(sourceDir, replicaDir)
    }
    val replica = LakeTable.load(spark, replicaDir)
    val gateKey = CdcStream.gateKeyFor(checkpointFile)
    follow(spark, sourceDir, checkpointFile,
      onDelta = (from, to, delta) => {
        syncMintedSchemas(sourceDir, replicaDir)
        val batch = delta
          .withColumnRenamed(graft.core.Schemas.LsnCol, "lsn")
          .withColumnRenamed(graft.core.Schemas.OpCol, "op")
        // Catalyst's free size estimate, same as the binlog tail: a
        // replica catching up through one table-sized delta should take
        // the async-stats full-rewrite path, not pay the prune path's
        // blocking stats barrier over every bucket (round-4 review #5)
        // retrying: replica-side maintenance (compact/rebucket) racing a
        // poll's apply must cost the loser a re-run, not fail the feed
        val stats = Merge.applyBatchRetrying(spark, replica, batch,
          epoch = to.toLong,
          batchSchemaVersion = source.snapshot(to).schemaId,
          batchBytesHint = Some(Merge.bytesHint(batch)),
          gateKey = gateKey,
          truncate = from == -1)
        if (stats.applied) Metrics.append(replicaDir, stats)
        stats.rowsApplied
      },
      intervalMs = intervalMs, durationMs = durationMs, until = until,
      rebootstrap = rebootstrap)
  }

  /** Lake-to-lake replication as ONE Structured Streaming query:
    * `readStream.format("graft-changelog")` → `writeStream.format
    * ("graft-lake")` — the [[replicate]] driver loop re-expressed on
    * Spark's own micro-batch engine (checkpointed offset log = the feed
    * checkpoint; batchId gate in the sink = the apply gate). Use
    * `Trigger.AvailableNow()` for a catch-up drain, `ProcessingTime` for
    * a resident follower. Caller owns awaitTermination/stop.
    *
    * Contracts inherited from the source: a fresh checkpoint bootstraps
    * with the full snapshot, and the sink applies batch 0 as TRUNCATE
    * (`truncateOnBatchZero` — batch 0 of this composition is always the
    * `from = -1` bootstrap), so pointing a fresh checkpoint at an
    * EXISTING non-empty replica — the restart-after-retention-breach
    * flow — replaces state instead of silently keeping replica-only
    * rows. A retention breach or in-range tombstone purge FAILS the
    * query with re-bootstrap guidance — restart with a fresh checkpoint.
    * A mid-stream ALTER TABLE FAILS the query with restart guidance
    * (never a silently-narrowed projection); on restart the schema
    * re-resolves and the stream continues from its checkpoint. The
    * driver-loop [[replicate]] syncs schemas per emission and stays the
    * evolution-WHILE-running path.
    */
  def replicateStream(spark: SparkSession, sourceDir: String,
      replicaDir: String, checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      maxVersionsPerBatch: Option[Int] = None,
      maxRowsPerBatch: Option[Long] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val source = LakeTable.load(spark, sourceDir)
    if (!LakeTable.exists(replicaDir)) {
      val s = source.currentSnapshot
      LakeTable.create(spark, replicaDir, schemaId = s.schemaId,
        numBuckets = s.numBuckets)
    }
    syncMintedSchemas(sourceDir, replicaDir)
    val reader = spark.readStream.format("graft-changelog")
      .option("path", sourceDir)
    maxVersionsPerBatch.foreach(m =>
      reader.option("maxVersionsPerBatch", m.toString))
    maxRowsPerBatch.foreach(m =>
      reader.option("maxRowsPerBatch", m.toString))
    reader.load().writeStream.format("graft-lake")
      .option("path", replicaDir)
      .option("checkpointLocation", checkpointDir)
      .option("schemaVersion", source.currentSnapshot.schemaId.toString)
      // batch 0 of THIS composition is always the changelog's from = -1
      // full-snapshot bootstrap, so replace-state (truncate) is the only
      // correct application — and it is idempotent under batchId replay
      .option("truncateOnBatchZero", "true")
      .trigger(trigger)
      .start()
  }

  /** Copy operationally-minted schema files (meta/schemas/s<id>.json,
    * immutable once committed) the replica does not have yet.
    */
  private def syncMintedSchemas(sourceDir: String, replicaDir: String): Unit = {
    val src = Paths.get(sourceDir, "meta", "schemas")
    if (!Files.isDirectory(src)) return
    val dst = Paths.get(replicaDir, "meta", "schemas")
    Files.createDirectories(dst)
    graft.core.Fs.list(src).foreach { p =>
      val t = dst.resolve(p.getFileName.toString)
      if (!Files.exists(t)) {
        // copy to temp + atomic CREATE_NEW-style publish: a concurrent
        // replicate of the same pair must not observe a torn schema file
        val tmp = dst.resolve(s".${p.getFileName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
        Files.copy(p, tmp)
        try Files.move(tmp, t, StandardCopyOption.ATOMIC_MOVE)
        catch { case e: java.nio.file.FileSystemException =>
          Files.deleteIfExists(tmp)
          // only a rival's win is benign (same immutable bytes); any
          // other move failure must SURFACE — swallowed, every later
          // apply would die on an unresolvable schemaId with nothing
          // pointing at the real cause (round-4 review #3)
          if (!Files.exists(t)) throw e
        }
      }
    }
  }

  /** Follow the changelog until `until()` holds AND the feed is caught
    * up (or `durationMs` elapses, if set). Returns every emission in
    * order. Poll cost on a quiet table is metadata-only, so short
    * intervals are cheap.
    */
  def follow(spark: SparkSession, tableDir: String, checkpointFile: String,
      onDelta: (Int, Int, DataFrame) => Long,
      intervalMs: Long = 5000L,
      durationMs: Option[Long] = None,
      until: () => Boolean = () => false,
      rebootstrap: Boolean = false,
      cdf: Boolean = false): Seq[Emitted] = {
    val deadline = durationMs.map(System.nanoTime() + _ * 1000000L)
    val out = Seq.newBuilder[Emitted]
    var done = false
    while (!done) {
      val emitted =
        pollOnce(spark, tableDir, checkpointFile, onDelta, rebootstrap, cdf)
      emitted.foreach(out += _)
      val caughtUp = emitted.isEmpty
      done = (until() && caughtUp) ||
        deadline.exists(System.nanoTime() >= _)
      if (!done && caughtUp) Thread.sleep(intervalMs)
    }
    out.result()
  }
}
