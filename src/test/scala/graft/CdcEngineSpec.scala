package graft

import graft.cdc.{CdcStream, Dedup, Merge, Prefetch}
import graft.core.{ChangeGen, TextHtml}
import graft.lake.LakeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden end-to-end CDC correctness (SURVEY.md §5.2 #2-#4): replay the
  * deterministic change log through dedup+MERGE and compare against a
  * brute-force "argmax event per url over the whole log" computed
  * independently of the merge path.
  */
class CdcEngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // boundaries align with chunk size: 10 chunks × 1000 → breaks at 4000/7000
  private val cfg = ChangeGen.Config(nEvents = 10000, nDomains = 50,
    pagesPerDomain = 20, v1Frac = 0.4, v2Frac = 0.3)

  /** Brute force: per-producer-version column masking, then global
    * latest-per-key (window impl — different code path than the merge's
    * combine aggregation), deletes dropped.
    */
  private def bruteForce(): DataFrame = {
    val ev = ChangeGen.events(spark, cfg)
      .withColumn("lang",
        when(col("schema_version") === 1, lit(null)).otherwise(col("lang")))
      .withColumn("content_len",
        when(col("schema_version") === 1, lit(null).cast("long"))
          .otherwise(col("content_len")))
    Dedup.latestPerKeyWindow(ev, "url", Seq("warc_ts", "lsn"))
      .filter(col("op") =!= "D")
      .select("url", "warc_ts", "html", "text", "lang", "content_len")
  }

  private def replayInto(nChunks: Int): LakeTable = {
    val logDir = TestSpark.tempDir("log")
    val tableDir = TestSpark.tempDir("table")
    ChangeGen.writeLog(spark, cfg, logDir, nChunks)
    val t = LakeTable.create(spark, tableDir, schemaId = 1, numBuckets = 8)
    CdcStream.replayChunks(spark, logDir, tableDir)
    t
  }

  private def assertSameSet(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema.map(f => (f.name, f.dataType)) == b.schema.map(f => (f.name, f.dataType)),
      s"schemas differ: ${a.schema} vs ${b.schema}")
    val extra = a.exceptAll(b).count()
    val missing = b.exceptAll(a).count()
    assert(extra == 0 && missing == 0, s"extra=$extra missing=$missing")
  }

  test("golden e2e: 10-chunk mixed-schema replay equals brute-force argmax") {
    val t = replayInto(10)
    val got = t.readUser()
    assertSameSet(got, bruteForce())
    // north-star invariant: byte-identical extracted text per url.
    // NULL-SAFE comparison: =!= would drop rows where either side is
    // NULL from the filter, so a merge bug nulling text for every row
    // would still pass — <=> is total (round-2 test review)
    val bad = got.filter(
      !(TextHtml.extractText(col("html")) <=> col("text"))).count()
    assert(bad == 0, s"$bad rows with text != extract(html)")
    assert(got.filter(col("text").isNotNull).count() > 0, "all text NULL")
    // schema evolved to the latest registry version
    assert(t.currentSnapshot.schemaId == 3)
  }

  test("replay convergence: 1-, 4- and 10-chunk splits reach identical state") {
    val t10 = replayInto(10)
    val t4 = replayInto(4)
    val t1 = replayInto(1)
    assertSameSet(t4.readUser(), t10.readUser())
    assertSameSet(t1.readUser(), t10.readUser())
  }

  test("broadcastWinners=false (shuffled semi-join escape hatch) reaches " +
    "the same final state") {
    val prev = spark.conf.getOption("graft.merge.broadcastWinners")
    spark.conf.set("graft.merge.broadcastWinners", "false")
    try {
      val t = replayInto(4)
      assertSameSet(t.readUser(), bruteForce())
    } finally prev match {
      case Some(v) => spark.conf.set("graft.merge.broadcastWinners", v)
      case None => spark.conf.unset("graft.merge.broadcastWinners")
    }
  }

  test("auto winner-join strategy: an over-threshold batch takes the " +
    "shuffled path without conf intervention") {
    // the pure decision: broadcast only when the key count is KNOWN small
    assert(Merge.winnersBroadcast(spark, Some(1000L)))
    assert(Merge.winnersBroadcast(spark, None)) // unknowable: bounded by batch sizing
    assert(!Merge.winnersBroadcast(spark, Some(10000001L)))
    // explicit conf overrides both directions
    spark.conf.set("graft.merge.broadcastWinners", "true")
    try assert(Merge.winnersBroadcast(spark, Some(Long.MaxValue)))
    finally spark.conf.unset("graft.merge.broadcastWinners")

    // plan shape: over the threshold, prepareWinners emits NO broadcast
    // hint — the planner picks a shuffled semi-join on its own
    val ev = ChangeGen.events(spark, cfg)
    val pk = Merge.prepareKeys(ev)
    def hasBroadcastHint(df: DataFrame): Boolean =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
          if h.hints.strategy.contains(
            org.apache.spark.sql.catalyst.plans.logical.BROADCAST) => h
      }.nonEmpty
    assert(hasBroadcastHint(Merge.prepareWinners(ev, pk, Some(100L))))
    assert(!hasBroadcastHint(Merge.prepareWinners(ev, pk, Some(20000000L))))

    // end to end: with a lowered threshold the replay's lagged key-count
    // estimator (eventsIn - conflicts of the last applied batch) pushes
    // every prefetched chunk after the first over it — replay still
    // reaches the exact brute-force state through the shuffled winners
    // join
    spark.conf.set("graft.merge.broadcastWinnersMaxKeys", "10")
    try {
      val t = replayInto(4)
      assertSameSet(t.readUser(), bruteForce())

      // prune path: a small batch against the built table carries its
      // synchronous stats count (15 keys > 10) into the same auto
      // decision; the shuffled merge applies correctly
      import spark.implicits._
      val ts0 = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
      val batch = (1 to 15).map(i =>
        (900000L + i, "U", s"http://auto-$i.test/", ts0,
          null: Array[Byte], s"auto $i", "en", 6L))
        .toDF("lsn", "op", "url", "warc_ts", "html", "text", "lang", "content_len")
      val s = Merge.applyBatch(spark, t, batch,
        epoch = t.lastCommittedEpoch.get + 1, batchSchemaVersion = 3,
        batchBytesHint = Some(1L)) // hint ≪ table → prune path
      assert(s.applied && s.eventsIn == 15)
      assert(t.readUser().filter(col("url").startsWith("http://auto-"))
        .count() == 15)

      // the CDC queries' feed: Prefetch.inOrder over lsn slices of one
      // DataFrame, sized by Catalyst. Epoch 0 applies unprepared; the
      // first prepared epoch has no applied batch to estimate from and
      // keeps the broadcast default; the second sizes its winners join
      // from epoch 0's applied key count (> 10) and is shuffled
      val qt = LakeTable.create(spark, TestSpark.tempDir("table"),
        schemaId = 3, numBuckets = 8)
      val slices = Seq(ev.filter(col("lsn") < 3000),
        ev.filter(col("lsn") >= 3000 && col("lsn") < 6000),
        ev.filter(col("lsn") >= 6000))
      val broadcastHints = Seq.newBuilder[Option[Boolean]]
      val applied = Prefetch.inOrder(spark, slices.zipWithIndex) {
        case (b, _) => (b, Merge.bytesHint(b))
      } { case ((_, epoch), b) =>
        broadcastHints += b.winners.map(hasBroadcastHint)
        Merge.applyBatch(spark, qt, b.df, epoch.toLong, batchSchemaVersion = 3,
          batchBytesHint = Some(b.bytes), preparedKeys = b.keys,
          preparedWinners = b.winners)
      }
      assert(applied.forall(_.applied))
      assert(broadcastHints.result() == Seq(None, Some(true), Some(false)))
    } finally spark.conf.unset("graft.merge.broadcastWinnersMaxKeys")
  }

  test("idempotency: re-replaying a fully-applied log is a no-op") {
    val logDir = TestSpark.tempDir("log")
    val tableDir = TestSpark.tempDir("table")
    ChangeGen.writeLog(spark, cfg, logDir, 5)
    LakeTable.create(spark, tableDir, schemaId = 1, numBuckets = 8)
    val first = CdcStream.replayChunks(spark, logDir, tableDir)
    assert(first.forall(_.applied))
    val t = LakeTable.load(spark, tableDir)
    val vBefore = t.currentVersion
    val second = CdcStream.replayChunks(spark, logDir, tableDir)
    assert(second.forall(!_.applied))
    assert(t.currentVersion == vBefore)
  }

  test("tombstones: a delete is not resurrected by a late older upsert in a later batch") {
    import spark.implicits._
    val tableDir = TestSpark.tempDir("table")
    val t = LakeTable.create(spark, tableDir, schemaId = 3, numBuckets = 2)
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    def ev(lsn: Long, op: String, url: String, w: String) =
      (lsn, op, url, ts(w), Array[Byte](), s"payload-$lsn", "en", 1L, 3)
    val cols = Seq("lsn", "op", "url", "warc_ts", "html", "text", "lang",
      "content_len", "schema_version")
    // batch 0: delete at ts 10
    val b0 = Seq(ev(1, "D", "u", "2024-01-10 00:00:00")).toDF(cols: _*)
    // batch 1: late upsert at ts 05 (older than the delete)
    val b1 = Seq(ev(2, "U", "u", "2024-01-05 00:00:00")).toDF(cols: _*)
    Merge.applyBatch(spark, t, b0, epoch = 0, batchSchemaVersion = 3)
    Merge.applyBatch(spark, t, b1, epoch = 1, batchSchemaVersion = 3)
    assert(t.readUser().count() == 0, "late older upsert resurrected a deleted key")
    // and the lineage survives as a tombstone
    assert(t.read().filter(col("_op") === "D").count() == 1)
  }

  test("per-batch lineage metrics are written and consistent") {
    val logDir = TestSpark.tempDir("log")
    val tableDir = TestSpark.tempDir("table")
    ChangeGen.writeLog(spark, cfg, logDir, 5)
    LakeTable.create(spark, tableDir, schemaId = 1, numBuckets = 8)
    val stats = CdcStream.replayChunks(spark, logDir, tableDir)
    assert(stats.map(_.eventsIn).sum == cfg.nEvents)
    assert(stats.forall(s => s.lsnMin <= s.lsnMax))
    // contiguous, non-overlapping LSN ranges across batches
    stats.sliding(2).foreach {
      case Seq(a, b) => assert(a.lsnMax < b.lsnMin)
      case _ =>
    }
    val metrics = java.nio.file.Files.readString(
      java.nio.file.Paths.get(tableDir, "metrics", "metrics.jsonl"))
    assert(metrics.linesIterator.size == stats.length)
    // snapshot summaries carry the same lineage
    val t = LakeTable.load(spark, tableDir)
    val epochs = (1 to t.currentVersion).flatMap(v => t.snapshot(v).epoch)
    assert(epochs == stats.indices.map(_.toLong))
  }
}
