package graft.tools

import graft.cdc.Merge
import graft.lake.LakeTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Phase-timed twin of the cdc_replicate_stream lifecycle (guide §1:
  * decompose before optimizing): land 2/3 of the events log, drain via
  * the streaming changelog→lake composition, land the rest, drain again,
  * read the replica. Prints per-phase wall so the streaming fixed cost
  * is separable from the merge work. args: [sfDir] [reps]
  */
object ReplProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = SparkSession.builder().master("local[32]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.SparkEntry.entry(spark).count()
    (1 to reps).foreach { rep =>
      val base = java.nio.file.Files.createTempDirectory("replprobe").toString
      var t0 = System.nanoTime()
      def ph(tag: String): Unit = {
        val now = System.nanoTime()
        println(f"[repl $rep] $tag: ${(now - t0) / 1e9}%.2fs")
        t0 = now
      }
      val log = spark.read.parquet(s"$sfDir/events.parquet").select(
        col("event_id").as("lsn"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"),
        concat(lit("user:"), col("user_id")).as("url"),
        col("ts").cast("timestamp").as("warc_ts"),
        lit(null).cast("binary").as("html"),
        col("props").as("text"),
        col("event_type").as("lang"),
        col("value").cast("long").as("content_len"),
        lit(3).as("schema_version")).cache()
      val maxLsn = log.agg(max("lsn")).head().getLong(0)
      val cut = 2 * maxLsn / 3
      ph("log+maxLsn")
      val t = LakeTable.create(spark, s"$base/src", schemaId = 3, numBuckets = 8)
      def land(batch: DataFrame, epoch: Long): Unit = {
        Merge.applyBatch(spark, t, batch, epoch, batchSchemaVersion = 3,
          batchBytesHint = Some(Merge.bytesHint(batch)))
      }
      land(log.filter(col("lsn") <= cut), 0L)
      ph("land-0")
      graft.cdc.ChangeFeed.replicateStream(spark, s"$base/src", s"$base/dst",
        s"$base/ckpt").awaitTermination()
      ph("drain-1")
      land(log.filter(col("lsn") > cut), 1L)
      ph("land-1")
      graft.cdc.ChangeFeed.replicateStream(spark, s"$base/src", s"$base/dst",
        s"$base/ckpt").awaitTermination()
      ph("drain-2")
      val n = LakeTable.load(spark, s"$base/dst").readUser().count()
      ph(s"read-replica($n)")
      log.unpersist()
      graft.core.Fs.deleteRecursively(java.nio.file.Paths.get(base))
    }
    spark.stop()
  }
}
