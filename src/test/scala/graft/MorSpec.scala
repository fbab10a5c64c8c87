package graft

import graft.cdc.{ChangeFeed, Merge, ParquetRowCodec}
import graft.core.ChangeGen
import graft.lake.{LakeTable, Maintenance}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Merge-on-read write mode (`write-mode = mor`): batches append
  * per-bucket DELTA layers instead of rewriting touched buckets;
  * readers fold the layers latest-wins ([[LakeTable.resolveLatest]]);
  * compaction folds them back into sorted base files. Every case here
  * pins MoR against its CoW twin on the same event log — the mode must
  * be invisible to every read surface (user view, changelog, CDF,
  * streaming replication) while writing O(batch) instead of O(touched
  * buckets) per commit.
  */
class MorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def log(n: Long = 4000): DataFrame =
    ChangeGen.events(spark, ChangeGen.Config(nEvents = n, nDomains = 30,
      pagesPerDomain = 12, v1Frac = 0.0, v2Frac = 0.0))

  private def morTable(prefix: String, nb: Int = 16): LakeTable = {
    val t = LakeTable.create(spark, TestSpark.tempDir(prefix),
      schemaId = 3, numBuckets = nb)
    t.updateProperties(Map("write-mode" -> "mor"))
    t
  }

  private def userRows(t: LakeTable): Set[String] =
    t.readUser().withColumn("html", md5(col("html")))
      .collect().map(_.toString).toSet

  private def keyedRows(df: DataFrame): Set[String] =
    df.withColumn("html", md5(col("html")))
      .collect().map(_.toString).toSet

  private def epochs(ev: DataFrame, n: Int): Seq[DataFrame] = {
    val per = math.max(1L, ev.count() / n)
    (0 until n).map(i => ev.filter(
      col("lsn") >= i * per && (col("lsn") < (i + 1) * per || lit(i == n - 1))))
  }

  test("bucket readers rebuild the driver's effective Hadoop conf key for " +
      "key, session-only keys included, without loading XML defaults") {
    val hc = spark.sparkContext.hadoopConfiguration
    val key = "graft.test.session-only"
    val prior = Option(hc.getRaw(key))
    hc.set(key, "shipped")
    try {
      val c = ParquetRowCodec.confFrom(ParquetRowCodec.hadoopConfDelta(spark))
      def effective(conf: org.apache.hadoop.conf.Configuration) =
        conf.asScala.flatMap(e =>
          Option(conf.get(e.getKey)).map(e.getKey -> _)).toMap
      assert(effective(c) == effective(hc))
      assert(c.get(key) == "shipped")
      assert(!c.toString.contains(".xml"), c.toString)
    } finally prior match {
      case Some(v) => hc.set(key, v)
      case None => hc.unset(key)
    }
  }

  test("MoR content equals the CoW twin across epochs; commits append " +
      "delta layers and carry base files untouched") {
    val ev = log().cache()
    val parts = epochs(ev, 3)
    val mor = morTable("mor-eq")
    val cow = LakeTable.create(spark, TestSpark.tempDir("mor-eq-twin"),
      schemaId = 3, numBuckets = 16)
    parts.zipWithIndex.foreach { case (b, i) =>
      Merge.applyBatch(spark, mor, b, i + 1L, 3)
      Merge.applyBatch(spark, cow, b, i + 1L, 3)
      assert(userRows(mor) == userRows(cow), s"diverged after epoch ${i + 1}")
    }
    ev.unpersist()
    val fs = mor.currentSnapshot.files
    // epoch 1 wrote bases into an empty table's buckets (still delta-
    // flagged layers over nothing — fine); epochs 2..3 stacked layers
    assert(fs.count(_.delta) > 0, "no delta layers written in MoR mode")
    assert(mor.currentSnapshot.summary("mor-delta-files").toLong ==
      fs.count(_.delta).toLong)
    // base files of epoch 1 carry PATH-IDENTICAL under later epochs
    val v1Paths = mor.snapshot(mor.currentVersion - 2).files.map(_.path).toSet
    val headPaths = fs.map(_.path).toSet
    assert(v1Paths.subsetOf(headPaths),
      "an earlier layer was rewritten by a MoR commit")
  }

  test("MoR writes O(batch) rows per commit where CoW rewrites the " +
      "touched buckets") {
    // wide key space so the table dwarfs the trailing micro-batch
    val ev = ChangeGen.events(spark, ChangeGen.Config(nEvents = 6000,
      nDomains = 100, pagesPerDomain = 40, v1Frac = 0.0, v2Frac = 0.0))
      .cache()
    // epoch 1: the bulk (the table); epoch 2: a small hot-key batch
    val bulk = ev.filter(col("lsn") < 5900)
    val small = ev.filter(col("lsn") >= 5900)
    def rowsWritten(t: LakeTable): Long =
      t.currentSnapshot.summary("rows-applied").toLong
    val mor = morTable("mor-amp")
    Merge.applyBatch(spark, mor, bulk, 1L, 3)
    Merge.applyBatch(spark, mor, small, 2L, 3)
    val morRows = rowsWritten(mor)
    val cow = LakeTable.create(spark, TestSpark.tempDir("mor-amp-twin"),
      schemaId = 3, numBuckets = 16)
    Merge.applyBatch(spark, cow, bulk, 1L, 3)
    Merge.applyBatch(spark, cow, small, 2L, 3)
    val cowRows = rowsWritten(cow)
    ev.unpersist()
    val smallKeys = small.select("url").distinct().count()
    assert(morRows <= smallKeys, s"MoR wrote $morRows rows for a " +
      s"$smallKeys-key batch — not O(batch)")
    assert(cowRows > morRows * 3,
      s"CoW wrote $cowRows vs MoR $morRows — amplification gap missing " +
        "(is the batch no longer small next to the table?)")
    assert(userRows(mor) == userRows(cow))
  }

  test("changelog and CDF over MoR commits equal the CoW twin's") {
    val ev = log().cache()
    val parts = epochs(ev, 3)
    val mor = morTable("mor-cdf")
    val cow = LakeTable.create(spark, TestSpark.tempDir("mor-cdf-twin"),
      schemaId = 3, numBuckets = 16)
    parts.zipWithIndex.foreach { case (b, i) =>
      Merge.applyBatch(spark, mor, b, i + 1L, 3)
      Merge.applyBatch(spark, cow, b, i + 1L, 3)
    }
    ev.unpersist()
    // version numbering differs (mor has the property commit) — compare
    // by walking pairs of MERGE versions (those with batch-epoch)
    def mergeVersions(t: LakeTable): Seq[Int] =
      t.existingVersions.filter(v =>
        t.snapshot(v).summary.contains("batch-epoch"))
    val mv = mergeVersions(mor); val cv = mergeVersions(cow)
    assert(mv.size == cv.size)
    for (i <- 0 until mv.size; j <- i until mv.size) {
      val (mFrom, cFrom) = if (i == 0) (-1, -1)
        else (mv(i - 1), cv(i - 1))
      val m = keyedRows(mor.changesBetween(mFrom, mv(j)))
      val c = keyedRows(cow.changesBetween(cFrom, cv(j)))
      assert(m == c, s"changesBetween diverged on merge range $i..$j")
      val mc = keyedRows(mor.changesBetweenCdf(mFrom, mv(j))
        .drop("_commit_version"))
      val cc = keyedRows(cow.changesBetweenCdf(cFrom, cv(j))
        .drop("_commit_version"))
      assert(mc == cc, s"CDF diverged on merge range $i..$j")
    }
  }

  test("compaction folds delta layers into sorted bases: content equal, " +
      "zone maps live, counter reset, plan() satisfied") {
    val ev = log().cache()
    val parts = epochs(ev, 4)
    val t = morTable("mor-fold")
    parts.zipWithIndex.foreach { case (b, i) =>
      Merge.applyBatch(spark, t, b, i + 1L, 3)
    }
    ev.unpersist()
    val before = userRows(t)
    assert(t.currentSnapshot.files.count(_.delta) > 0)
    // fold debt visible to the planner (tiny threshold to trigger)
    val (action, reason, _) =
      Maintenance.plan(t, churnThreshold = 100, morFoldThreshold = 2)
    assert(action == "compact" && reason.contains("merge-on-read"),
      s"plan said $action ($reason)")
    Maintenance.compact(spark, t)
    val s = t.currentSnapshot
    assert(s.files.forall(!_.delta), "delta layers survived compaction")
    assert(s.summary("mor-delta-files") == "0")
    assert(s.files.forall(_.tsMin.isDefined), "zone maps missing post-fold")
    assert(userRows(t) == before)
    // folded table reads without the resolve agg: a second compact no-ops
    assert(Maintenance.compact(spark, t).version == s.version)
  }

  test("a delta tombstone shadows the base row; a LATE older upsert " +
      "cannot resurrect it; exactly-once gate holds on the MoR path") {
    import java.sql.Timestamp
    val t = morTable("mor-del", nb = 4)
    def ev(lsn: Long, op: String, ts: String) = {
      import spark.implicits._
      Seq((lsn, op, "https://a.example/p", Timestamp.valueOf(ts),
        "<p>x</p>".getBytes("UTF-8"), "x", "en"))
        .toDF("lsn", "op", "url", "warc_ts", "html", "text", "lang")
    }
    Merge.applyBatch(spark, t, ev(1L, "I", "2024-01-01 10:00:00"), 1L, 3)
    assert(t.readUser().count() == 1)
    Merge.applyBatch(spark, t, ev(2L, "D", "2024-01-03 10:00:00"), 2L, 3)
    assert(t.readUser().count() == 0, "delta tombstone did not shadow")
    // late event BETWEEN the insert and the delete: argmax keeps the D
    Merge.applyBatch(spark, t, ev(3L, "U", "2024-01-02 10:00:00"), 3L, 3)
    assert(t.readUser().count() == 0, "late upsert resurrected a deleted key")
    // replay of epoch 3 is gated (no new layer)
    val files0 = t.currentSnapshot.files.size
    val st = Merge.applyBatch(spark, t, ev(3L, "U", "2024-01-02 10:00:00"), 3L, 3)
    assert(!st.applied && st.gated)
    assert(t.currentSnapshot.files.size == files0)
  }

  test("schema evolution mid-stack: delta layers at the evolved schema " +
      "over bases at the old one align on read and through compaction") {
    // base layers at v2 (content_len INT), delta layers at v3 (LONG):
    // the stack spans a widening evolution and must still resolve
    val t = LakeTable.create(spark, TestSpark.tempDir("mor-evo"),
      schemaId = 2, numBuckets = 8)
    t.updateProperties(Map("write-mode" -> "mor"))
    val all = ChangeGen.events(spark, ChangeGen.Config(nEvents = 800,
      nDomains = 10, pagesPerDomain = 8, v1Frac = 0.0, v2Frac = 0.0))
    val b1 = ChangeGen.projectToVersion(all.filter(col("lsn") < 600), 2)
    val b2 = all.filter(col("lsn") >= 600)
    Merge.applyBatch(spark, t, b1, 1L, batchSchemaVersion = 2)
    Merge.applyBatch(spark, t, b2, 2L, batchSchemaVersion = 3)
    assert(t.currentSnapshot.schemaId == 3)
    assert(t.currentSnapshot.files.exists(_.delta))
    val twin = LakeTable.create(spark, TestSpark.tempDir("mor-evo-twin"),
      schemaId = 2, numBuckets = 8)
    Merge.applyBatch(spark, twin, b1, 1L, batchSchemaVersion = 2)
    Merge.applyBatch(spark, twin, b2, 2L, batchSchemaVersion = 3)
    assert(userRows(t) == userRows(twin))
    Maintenance.compact(spark, t)
    assert(userRows(t) == userRows(twin))
  }

  test("an oversized batch on a mor table takes the CoW full-rewrite " +
      "path, folds every layer, and resets the fold counter") {
    val ev = log(2000).cache()
    val t = morTable("mor-big")
    Merge.applyBatch(spark, t, ev.filter(col("lsn") < 200), 1L, 3)
    assert(t.currentSnapshot.files.exists(_.delta))
    assert(t.currentSnapshot.summary("mor-delta-files").toLong > 0)
    // table-sized batch: rewriting IS cheaper — hint forces the CoW path
    Merge.applyBatch(spark, t, ev.filter(col("lsn") >= 200), 2L, 3,
      batchBytesHint = Some(1L << 60))
    val s = t.currentSnapshot
    assert(s.files.forall(!_.delta), "full rewrite left delta layers")
    assert(s.summary("mor-delta-files") == "0",
      "stale fold debt after a full rewrite — plan() would compact nothing")
    val twin = LakeTable.create(spark, TestSpark.tempDir("mor-big-twin"),
      schemaId = 3, numBuckets = 16)
    Merge.applyBatch(spark, twin, ev.filter(col("lsn") < 200), 1L, 3)
    Merge.applyBatch(spark, twin, ev.filter(col("lsn") >= 200), 2L, 3)
    ev.unpersist()
    assert(userRows(t) == userRows(twin))
  }

  test("a lost MoR commit race FAST-APPENDS on any head — even an " +
      "INTERSECTING rival merge — with no batch re-run") {
    val ev = log(2000).cache()
    // rival writes the SAME key population: every bucket intersects —
    // the CoW rebase would refuse this shape and force a full re-run
    val outer = ev.filter(col("lsn") < 1000)
    val rival = ev.filter(col("lsn") >= 1000)
    val t = morTable("mor-race")
    val twin = morTable("mor-race-twin")
    Merge.applyBatch(spark, twin, rival, 1L, 3)
    Merge.applyBatch(spark, twin, outer, 2L, 3)
    val appends0 = LakeTable.commitRebases.get()
    val rerun0 = Merge.commitRacesLost.get()
    val noop: () => Unit = () => ()
    Merge.beforeCommitHook = () => {
      Merge.beforeCommitHook = noop
      Merge.applyBatch(spark, t, rival, 1L, 3)
    }
    // direct applyBatch (no retry wrapper): success REQUIRES the
    // fast-append — a plain lost race would throw out of this call
    try Merge.applyBatch(spark, t, outer, 2L, 3)
    finally Merge.beforeCommitHook = noop
    ev.unpersist()
    assert(LakeTable.commitRebases.get() > appends0,
      "the intersecting race was not salvaged by fast-append")
    assert(Merge.commitRacesLost.get() == rerun0, "a batch re-run happened")
    assert(userRows(t) == userRows(twin),
      "fast-append diverged from the serial twin")
  }

  test("a compaction landing inside the MoR commit window fast-appends " +
      "too: the delta stacks over the freshly folded bases") {
    val ev = log(2000).cache()
    val parts = epochs(ev, 2)
    val t = morTable("mor-race-fold")
    Merge.applyBatch(spark, t, parts(0), 1L, 3)
    val twin = morTable("mor-race-fold-twin")
    Merge.applyBatch(spark, twin, parts(0), 1L, 3)
    Merge.applyBatch(spark, twin, parts(1), 2L, 3)
    val appends0 = LakeTable.commitRebases.get()
    val noop: () => Unit = () => ()
    Merge.beforeCommitHook = () => {
      Merge.beforeCommitHook = noop
      Maintenance.compact(spark, t) // folds epoch 1's layers mid-window
    }
    try Merge.applyBatch(spark, t, parts(1), 2L, 3)
    finally Merge.beforeCommitHook = noop
    ev.unpersist()
    assert(LakeTable.commitRebases.get() > appends0)
    assert(userRows(t) == userRows(twin))
    // epoch 2's layers sit over the folded bases
    assert(t.currentSnapshot.files.exists(_.delta))
    assert(t.currentSnapshot.files.exists(f => !f.delta))
  }

  test("single-delta buckets (one epoch over a fresh table) take the " +
      "changelog fast path: changesBetween/CDF parity with the CoW twin") {
    // r5 advice #4: the per-side needsResolve fast path streams a single
    // delta file (unique urls by construction) instead of materializing a
    // resolve map — pin it with a table whose EVERY bucket is exactly one
    // delta over an empty before side.
    val ev = log(1500).cache()
    val mor = morTable("mor-single")
    val cow = LakeTable.create(spark, TestSpark.tempDir("mor-single-twin"),
      schemaId = 3, numBuckets = 16)
    Merge.applyBatch(spark, mor, ev, 1L, 3)
    Merge.applyBatch(spark, cow, ev, 1L, 3)
    ev.unpersist()
    val files = mor.currentSnapshot.files
    assert(files.nonEmpty && files.forall(_.delta),
      "fixture must be all-delta (one MoR epoch over a fresh table)")
    assert(files.groupBy(_.bucket).values.forall(_.size == 1),
      "fixture must hold exactly one delta file per bucket")
    val mv = mor.currentVersion // create, property, merge
    val cv = cow.currentVersion // create, merge
    // incremental leg: before side EMPTY, after side exactly one delta
    assert(keyedRows(mor.changesBetween(mv - 1, mv)) ==
      keyedRows(cow.changesBetween(cv - 1, cv)))
    assert(keyedRows(mor.changesBetweenCdf(mv - 1, mv).drop("_commit_version")) ==
      keyedRows(cow.changesBetweenCdf(cv - 1, cv).drop("_commit_version")))
    // bootstrap leg: one task per (single delta) file
    assert(keyedRows(mor.changesBetween(-1, mv)) ==
      keyedRows(cow.changesBetween(-1, cv)))
  }

  test("streaming replication (graft-changelog -> graft-lake) over a MoR " +
      "source converges; the layered bucket-task path engages") {
    val ev = log(3000).cache()
    val parts = epochs(ev, 3)
    val src = morTable("mor-repl-src")
    Merge.applyBatch(spark, src, parts(0), 1L, 3)
    val repl = TestSpark.tempDir("mor-repl-dst")
    val ckpt = TestSpark.tempDir("mor-repl-ckpt")
    def drain(): Unit =
      ChangeFeed.replicateStream(spark, src.dir, repl, ckpt,
        Trigger.AvailableNow()).awaitTermination()
    drain() // bootstrap reads layered buckets as bucket tasks
    val replica = LakeTable.load(spark, repl)
    assert(userRows(replica) == userRows(src))
    Merge.applyBatch(spark, src, parts(1), 2L, 3)
    Merge.applyBatch(spark, src, parts(2), 3L, 3)
    assert(src.currentSnapshot.files.exists(_.delta))
    drain() // incremental: layered before/after sides resolve in-task
    ev.unpersist()
    assert(userRows(LakeTable.load(spark, repl)) == userRows(src))
  }
}
