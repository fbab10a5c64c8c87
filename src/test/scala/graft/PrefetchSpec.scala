package graft

import graft.cdc.{CdcStream, Merge, Prefetch}
import graft.core.ChangeGen
import graft.lake.LakeTable
import org.scalatest.funsuite.AnyFunSuite

/** The shared prefetch pipeline's cache contract, on the chunk replay:
  * at any commit the cache holds at most the applying batch's plans and
  * the next batch's prepared pair, and nothing prepared outlives the run,
  * whether it finishes or a commit throws.
  */
class PrefetchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val cfg = ChangeGen.Config(nEvents = 6000, nDomains = 30,
    pagesPerDomain = 20, v1Frac = 0.0, v2Frac = 0.0)

  private def cachedPlans(): Int =
    org.apache.spark.sql.execution.CacheProbe.entries(spark)

  /** A 6-chunk log and a fresh table: (logDir, tableDir). */
  private def sixChunks(): (String, String) = {
    val logDir = TestSpark.tempDir("prefetch-log")
    ChangeGen.writeLog(spark, cfg, logDir, nChunks = 6)
    val tableDir = TestSpark.tempDir("prefetch-table")
    LakeTable.create(spark, tableDir, schemaId = 3, numBuckets = 8)
    (logDir, tableDir)
  }

  private def withCommitHook[T](hook: () => Unit)(body: => T): T = {
    Merge.beforeCommitHook = hook
    try body finally Merge.beforeCommitHook = () => ()
  }

  test("a replay caches at most two prepared pairs, and none after it ends") {
    val (logDir, tableDir) = sixChunks()
    val base = cachedPlans()
    val hits0 = Prefetch.hits.get()
    val atCommit = Seq.newBuilder[Int]
    val stats = withCommitHook(() => atCommit += cachedPlans() - base) {
      CdcStream.replayChunks(spark, logDir, tableDir)
    }
    assert(stats.size == 6 && stats.forall(_.applied))
    // chunk 0 applies unprepared (its own key plan) with chunk 1's pair
    // prepared; every later chunk holds its handed-over pair plus the
    // next chunk's; the last has no next
    assert(atCommit.result() == Seq(3, 4, 4, 4, 4, 2))
    assert(Prefetch.hits.get() - hits0 == 5)
    assert(cachedPlans() == base, "prefetched plans still cached")
  }

  test("a commit that throws mid-replay leaves no prepared plan cached") {
    val (logDir, tableDir) = sixChunks()
    val base = cachedPlans()
    var commits = 0
    val e = intercept[IllegalStateException] {
      withCommitHook { () =>
        commits += 1
        if (commits == 3) throw new IllegalStateException("injected")
      } {
        CdcStream.replayChunks(spark, logDir, tableDir)
      }
    }
    assert(e.getMessage == "injected")
    assert(cachedPlans() == base, "a throwing replay leaked prepared plans")
    // the epoch gate resumes at the chunk whose commit threw
    val resumed = CdcStream.replayChunks(spark, logDir, tableDir)
    assert(resumed.map(_.epoch) == Seq(2L, 3L, 4L, 5L))
    assert(resumed.forall(_.applied))
    assert(cachedPlans() == base)
  }
}
