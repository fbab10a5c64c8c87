package graft.perfbench

import java.nio.file.Paths

/** A fixed subset of `SparkEntry.queries`, in a fixed order, over the
  * sf0.001 tables bundled in `perfbench/data/sf0.001`, repeated until the
  * run's time is spent.
  *
  * The subset keeps one pass short enough to repeat and still covers every
  * `ops` module, the engine's `functions` (UrlNorm, DotProduct,
  * Md5Prefix32) and `sources` (YamlDoc, ZipArchive), SQL row-level writes
  * (`cdc_row_level`), the changelog streaming source
  * (`cdc_replicate_stream`) and the carried targets d6, `mm_audio_rms`
  * and w4.
  *
  * Set-up is the first pass, on a cold session: it also checks each
  * query's row count against the count the engine gave when this
  * benchmark was added. The measured passes write every result through the
  * noop sink.
  *
  * e2e: latency = one pass of the subset (median over passes),
  * throughput = queries per second over the measured passes.
  */
object QuerySuite extends Workload {
  val name = "query_suite"

  /** (ops module, query, row count on the bundled tables). */
  val Queries: Seq[(String, String, Long)] = Seq(
    ("RelationalQueries", "q1_agg", 6L),
    ("RelationalQueries", "w4_global_rownum", 1000L),
    ("TextQueries", "t9_vocab_topk", 20L),
    ("SimilarityQueries", "d6_embedding_neardup", 345L),
    ("CdcQueries", "cdc_row_level", 9L),
    ("CdcQueries", "cdc_replicate_stream", 12L),
    ("ReaderQueries", "s7_steps", 2000L),
    ("ReaderQueries", "s9_zip_extract", 10L),
    ("MultimodalQueries", "mm_audio_rms", 2000L),
    ("WebQueries", "f13_url_canonicalize", 450L))

  /** Queries whose own time is a per-layer metric (ROADMAP targets and the
    * two CDC paths only this workload reaches).
    */
  val Targets = Seq("d6_embedding_neardup", "mm_audio_rms", "w4_global_rownum",
    "cdc_row_level", "cdc_replicate_stream")

  /** The bundled tables, relative to the checkout root. */
  val DataDir = Paths.get("perfbench", "data", "sf0.001").toAbsolutePath.toString

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val defs = graft.SparkEntry.queries
    require(java.nio.file.Files.isDirectory(Paths.get(DataDir)),
      s"query tables not found at $DataDir")

    // set-up: one pass on the cold session, each result counted and
    // checked
    var failed = 0L
    val cold = Queries.map { case (_, q, rows) =>
      val (ms, n) = Harness.timedMs(defs(q)(spark, DataDir).count())
      if (!Harness.check(s"$q row count", n, rows)) failed += 1
      q -> ms
    }
    val setupMs = cold.map(_._2).sum
    heap.settle()

    val samples = Queries.map(q => q._2 -> Vector.newBuilder[Double]).toMap
    val passes = Vector.newBuilder[Double]
    val lo = tracer.epochMs
    val deadline = Harness.nowMs + seconds * 1000.0
    var pass = 0
    while (Harness.nowMs < deadline || pass == 0) {
      passes += Queries.map { case (module, q, _) =>
        val (ms, _) = Harness.timedMs(tracer.span(q, "ops." + module)(
          Harness.noop(defs(q)(spark, DataDir))))
        samples(q) += ms
        ms
      }.sum
      pass += 1
    }
    val hi = tracer.epochMs
    val p = passes.result()
    def p50(q: String) = Harness.median(samples(q).result())

    val layers = if (!traced) Map.empty[String, Double] else {
      val perModule = Queries.groupMapReduce(_._1)(q => p50(q._2))(_ + _)
      perModule.map { case (m, ms) => s"ops.${m}_s" -> ms / 1000.0 } ++
        Targets.map(q => s"ops.${q}_s" -> p50(q) / 1000.0) ++
        Tracer.sparkRollup(tracer, lo, hi, cores, heap.gcSeconds) ++
        Layers.selfSeconds(tracer)
    }
    Outcome(Queries.size.toLong * (pass + 1), failed,
      e2e = Map(
        "latency_ms_p50" -> Harness.median(p),
        "throughput_per_s" -> Queries.size * pass * 1000.0 / p.sum,
        "setup_s" -> setupMs / 1000.0),
      layers = layers,
      info = Map(
        "query_suite.passes" -> pass.toDouble,
        "query_suite.query_total_s" -> Harness.median(p) / 1000.0,
        "query_suite.pass_s_max" -> p.max / 1000.0) ++
        Queries.map { case (_, q, _) => s"query_suite.$q.ms_p50" -> p50(q) } ++
        cold.map { case (q, ms) => s"query_suite.$q.cold_ms" -> ms })
  }
}
