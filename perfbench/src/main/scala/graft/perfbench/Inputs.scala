package graft.perfbench

import graft.core.ChangeGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, StandardCopyOption}

/** Seeded inputs. Everything the engine consumes is generated here by
  * [[ChangeGen]] from `--seed` and cached per (shape, seed): generation is
  * several times slower than ingest and would otherwise dominate a run.
  * Only generator output is cached; every table the engine writes is
  * rebuilt by the code under test on every run.
  */
final class Inputs(spark: SparkSession, work: Path, val seed: Long) {

  /** Seconds spent generating inputs in this process (reported as gen_s,
    * outside setup_s).
    */
  var genSeconds = 0.0

  /** `dir` for (shape, seed), generating it with `make` on a cache miss.
    * `make` writes into a temp dir that is renamed into place, so a run
    * killed mid-generation leaves no half-written cache entry.
    */
  def cached(shape: String)(make: Path => Unit): Path = {
    val dir = work.resolve("cache").resolve(s"$shape-s$seed")
    if (!Files.exists(dir.resolve("_DONE"))) {
      val t0 = System.nanoTime()
      val tmp = work.resolve("cache").resolve(s".$shape-s$seed.tmp")
      Harness.deleteDir(tmp)
      Harness.deleteDir(dir)
      Files.createDirectories(tmp)
      make(tmp)
      Files.writeString(tmp.resolve("_DONE"), "")
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] generated $shape-s$seed in $s%.1f s")
      genSeconds += s
    }
    dir
  }

  /** ChangeGen config at schema v3 only. */
  def config(nEvents: Long, domains: Int, pages: Int): ChangeGen.Config =
    ChangeGen.Config(nEvents = nEvents, nDomains = domains,
      pagesPerDomain = pages, seed = seed, v1Frac = 0.0, v2Frac = 0.0)

  def events(dir: Path): DataFrame =
    spark.read.schema(graft.cdc.CdcStream.chunkSchema(3))
      .option("recursiveFileLookup", "true").parquet(dir.toString)

  /** A cached fingerprint derived from inputs alone. */
  def cachedFingerprint(dir: Path, name: String)(
      compute: => (Long, BigDecimal)): (Long, BigDecimal) = {
    val f = dir.resolve(s"_$name.ref")
    if (Files.exists(f)) {
      val Array(n, c) = Files.readString(f).trim.split(" ")
      (n.toLong, BigDecimal(c))
    } else {
      val t0 = System.nanoTime()
      val r = compute
      Files.writeString(f, s"${r._1} ${r._2}")
      genSeconds += (System.nanoTime() - t0) / 1e9
      r
    }
  }

  /** Write events [lo, lo + n·per) as n parquet slices in `dir`, slice i
    * holding the LSN range [lo + i·per, lo + (i+1)·per) under the path
    * `name(i)`: one file when `singleFile`, else a directory of part files.
    * One Spark job for all slices.
    */
  def writeSlices(cfg: ChangeGen.Config, lo: Long, n: Int, per: Long,
      dir: Path, name: Int => String, singleFile: Boolean): Seq[Path] = {
    val tmp = dir.resolve(".slices")
    val ev = ChangeGen.eventsRange(spark, cfg, lo, lo + n * per)
      .withColumn("slice", floor((col("lsn") - lo) / per).cast("int"))
    // one task per slice when each slice must be a single file
    (if (singleFile) ev.repartition(n, col("slice")).sortWithinPartitions("lsn") else ev)
      .write.partitionBy("slice").parquet(tmp.toString)
    val out = (0 until n).map { i =>
      val src = tmp.resolve(s"slice=$i")
      val dst = dir.resolve(name(i))
      if (singleFile) {
        val parts = graft.core.Fs.list(src)
          .filter(_.getFileName.toString.endsWith(".parquet"))
        require(parts.size == 1, s"slice $i wrote ${parts.size} files")
        Files.move(parts.head, dst)
      } else Files.move(src, dst)
      dst
    }
    Harness.deleteDir(tmp)
    out
  }
}
