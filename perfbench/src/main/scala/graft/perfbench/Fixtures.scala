package graft.perfbench

import graft.cdc.Merge
import graft.lake.LakeTable
import java.nio.file.Path

/** Seeded inputs and engine-built tables shared by the merge-on-read
  * workloads.
  *
  *  - base: a web crawl of `BaseDomains × BasePages` urls, about one event
  *    per url, loaded in one table-sized (copy-on-write) batch;
  *  - hot: MorBench's hot set, about 2000 urls over 50 domains that hash to
  *    every bucket, so each hot batch touches the whole table and lands as
  *    one merge-on-read delta file per bucket.
  *
  * Hot events take LSNs above the base's, in file/epoch order.
  */
object Fixtures {
  val BaseEvents = 20000L
  val BaseDomains = 500
  val BasePages = 1000
  val HotDomains = 50
  val HotPages = 40

  def base(ctx: Ctx): Path = {
    val cfg = ctx.inputs.config(BaseEvents, BaseDomains, BasePages)
    ctx.inputs.cached(s"base-$BaseEvents-$BaseDomains-$BasePages") { d =>
      graft.core.ChangeGen.events(ctx.spark, cfg).write.parquet(d.resolve("events").toString)
    }.resolve("events")
  }

  /** `n` hot slices of `per` events each, as single parquet files. */
  def hot(ctx: Ctx, n: Int, per: Long): Seq[Path] = {
    val cfg = ctx.inputs.config(BaseEvents + n * per, HotDomains, HotPages)
    val dir = ctx.inputs.cached(s"hot-$BaseEvents-$n-$per") { d =>
      ctx.inputs.writeSlices(cfg, BaseEvents, n, per, d, i => f"hot-$i%05d.parquet",
        singleFile = true)
    }
    (0 until n).map(i => dir.resolve(f"hot-$i%05d.parquet"))
  }

  /** A fresh merge-on-read table of `buckets` buckets holding the base
    * crawl, loaded through [[Merge.applyBatch]] by the engine under test.
    */
  def morTable(ctx: Ctx, dir: Path, buckets: Int): LakeTable = {
    val t = LakeTable.create(ctx.spark, Harness.freshDir(dir), schemaId = 3,
      numBuckets = buckets)
    t.updateProperties(Map("write-mode" -> "mor"))
    val base = ctx.inputs.events(Fixtures.base(ctx))
    // table-sized: the merge takes the full-rewrite path, writing base files
    Merge.applyBatch(ctx.spark, t, base, epoch = -1L, batchSchemaVersion = 3,
      batchBytesHint = Some(1L << 60))
    t
  }
}
