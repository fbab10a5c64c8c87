package graft.perfbench

import graft.lake.LakeTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** What one workload run hands back to [[Main]]. `e2e` holds the
  * end-to-end metrics of BENCHMARK.json, `layers` the per-layer metrics
  * (filled on traced runs), `info` the workload's own named figures,
  * printed for people and kept in the run record but not gated.
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    e2e: Map[String, Double],
    layers: Map[String, Double] = Map.empty,
    info: Map[String, Double] = Map.empty)

/** Shared measurement helpers. */
object Harness {

  def nowMs: Double = System.nanoTime() / 1e6

  def timedMs[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e6, a)
  }

  /** Linear-interpolated quantile (q in [0,1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Run an action through the noop sink: every column of `df` is
    * computed, nothing is written, and Catalyst cannot prune the work
    * being priced the way it can under count().
    */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Order-independent (rows, checksum) of (url, warc_ts, lsn) triples. */
  def fingerprint(df: DataFrame, lsnCol: String): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(col("url"), col("warc_ts").cast("long"),
        col(lsnCol).cast("long")).cast("decimal(38,0)"))).head()
    (r.getLong(0),
      Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Compare, reporting a mismatch on stderr. */
  def check[A](what: String, actual: A, expected: A): Boolean = {
    if (actual != expected)
      System.err.println(s"[perfbench] MISMATCH $what: got $actual, expected $expected")
    actual == expected
  }

  /** The live table's fingerprint: every non-tombstone row with its LSN. */
  def tableFingerprint(t: LakeTable): (Long, BigDecimal) =
    fingerprint(t.read().filter(col(graft.core.Schemas.OpCol) =!= "D"),
      graft.core.Schemas.LsnCol)

  /** Reference latest-wins state of an event log, computed independently
    * of the engine: a plain window ranking each url's events by
    * (warc_ts, lsn) descending; the url is live iff its winner is not a
    * delete.
    */
  def referenceFingerprint(events: DataFrame): (Long, BigDecimal) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("url")
      .orderBy(col("warc_ts").desc, col("lsn").desc)
    fingerprint(events.select("url", "warc_ts", "lsn", "op")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1 && col("op") =!= "D"), "lsn")
  }

  def deleteDir(p: Path): Unit =
    if (Files.exists(p)) graft.core.Fs.deleteRecursively(p)

  /** Fresh, empty scratch directory under the run's work dir. */
  def freshDir(p: Path): String = {
    deleteDir(p)
    Files.createDirectories(p)
    p.toString
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
}

/** Peak heap occupancy after a collection, over the whole run. Every
  * collection counts, young and mixed ones included, so the figure follows
  * the working set while the workload runs (what survives a young
  * collection is what was live at that moment), not only the retained set
  * at phase boundaries.
  */
final class HeapTracker {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData

  @volatile private var peakBytes = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
        synchronized { if (used > peakBytes) peakBytes = used }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** A full collection before the measured phase, so garbage set-up left
    * in the old generation does not ride into it.
    */
  def settle(): Unit = System.gc()

  def peakMb: Double = peakBytes / 1048576.0

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
}

/** Host state next to each run's metrics, so a noisy window is visible
  * (informational, never a gate).
  */
object HostRecord {
  def loadAvg1: Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Millions of integer-mix iterations per second on one thread, ~200 ms. */
  def spinRate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var n = 0L
    while (System.nanoTime() - t0 < 200000000L) {
      var i = 0
      while (i < 10000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      n += 10000
    }
    if (x == 42) println("") // keep the loop live
    n / ((System.nanoTime() - t0) / 1e9) / 1e6
  }

  def apply(spark: SparkSession, cores: Int): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "cores" -> cores,
    "loadavg_1m" -> loadAvg1,
    "spin_mops" -> spinRate(),
    "session_conf" -> spark.conf.getAll.toSeq.sortBy(_._1)
      .filterNot(kv => kv._1.startsWith("spark.driver.") ||
        kv._1 == "spark.app.id" || kv._1 == "spark.app.startTime")
      .toMap)
}

/** JSON for the result line, run records and traces. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
