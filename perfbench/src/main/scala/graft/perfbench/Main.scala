package graft.perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}

/** Everything a workload needs for one run. */
final case class Ctx(spark: SparkSession, cores: Int, work: Path,
    seed: Long, seconds: Int, inputs: Inputs, heap: HeapTracker,
    tracer: Tracer) {
  def traced: Boolean = tracer.enabled
  def scratch(name: String): Path = work.resolve("run").resolve(name)
}

trait Workload {
  def name: String
  def run(ctx: Ctx): Outcome
}

/** Benchmark entry point: one workload, one JVM, one result line.
  *
  * {{{
  *   graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *                        --trace <0|1> --work <dir>
  * }}}
  *
  * The session is the one `graft.Main` builds (GraftExtensions, UTC,
  * Spark defaults) plus the `graft` SQL catalog and small-host sizing only:
  * local master, shuffle partitions = cores, UI off, Spark scratch inside
  * the work dir.
  */
object Main {
  val workloads: Seq[Workload] = Seq(ReplayBacklog, ReadMorLayered, QuerySuite)

  /** Metric names every run reports, in BENCHMARK.json order. */
  val E2e: Seq[(String, String)] = Seq(
    "latency_ms_p50" -> "ms", "throughput_per_s" -> "1/s",
    "setup_s" -> "s", "heap_peak_mb" -> "MB")

  /** The e2e metric the tracing overhead is taken on. */
  val OverheadMetric = "latency_ms_p50"

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val wl = workloads.find(_.name == args("workload")).getOrElse(
      sys.error(s"unknown workload ${args("workload")}"))
    val work = Paths.get(args("work")).toAbsolutePath
    val trace = args("trace") == "1"
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val heap = new HeapTracker
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-perfbench-${wl.name}")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      // the SQL surface's catalog (SELECT … FROM graft.`dir`), not tuning
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code = try {
      val host = HostRecord(spark, cores)
      val inputs = new Inputs(spark, work, args("seed").toLong)
      def ctx(tracer: Tracer) = Ctx(spark, cores, work, args("seed").toLong,
        args("seconds").toInt, inputs, heap, tracer)
      // tracing overhead: an untraced pass of the same workload, seed and
      // build in this JVM first, then the traced pass
      val untraced = if (!trace) None else Some(wl.run(ctx(new Tracer(spark, false))))
      val baseline = untraced.map(_.e2e(OverheadMetric))
      val tracer = new Tracer(spark, trace)
      // a check that fails on the untraced pass fails the run too
      val traced = wl.run(ctx(tracer))
      val out0 = traced.copy(failed = traced.failed + untraced.fold(0L)(_.failed))
      tracer.stop()
      val e2e = out0.e2e + ("setup_s" -> (sessionS + out0.e2e("setup_s"))) +
        ("heap_peak_mb" -> heap.peakMb)
      val out = baseline.fold(out0.copy(e2e = e2e)) { b =>
        val layers = Layers.complete(out0.layers +
          ("trace.overhead_frac" -> (out0.e2e(OverheadMetric) / b - 1.0)) +
          ("trace.spans" -> tracer.allSpans.size.toDouble))
        Tracer.writeOut(work.resolve("trace").resolve(s"${wl.name}-s${args("seed")}"),
          tracer, Map("workload" -> wl.name, "seed" -> args("seed").toLong,
            "untraced_" + OverheadMetric -> b,
            "traced_e2e" -> e2e, "layers" -> layers,
            "self_s" -> Tracer.selfTimes(tracer.allSpans).map { case (k, v) => k -> v / 1000 }))
        out0.copy(e2e = e2e, layers = layers)
      }
      val correct = out.failed == 0 && out.attempted > 0
      val record = Map("workload" -> wl.name, "seed" -> args("seed").toLong,
        "seconds" -> args("seconds").toInt, "trace" -> trace,
        "host" -> host, "session_s" -> sessionS, "gen_s" -> inputs.genSeconds,
        "attempted" -> out.attempted, "failed" -> out.failed,
        "e2e" -> out.e2e, "info" -> out.info, "layers" -> out.layers)
      val runs = work.resolve("runs")
      Files.createDirectories(runs)
      Files.writeString(runs.resolve(
        s"${wl.name}-s${args("seed")}-t${args("trace")}-${System.currentTimeMillis()}.json"),
        Json(record) + "\n")
      println(s"host nproc=${host("nproc")} cores=$cores " +
        f"loadavg_1m=${HostRecord.loadAvg1}%.2f spin_mops=${host("spin_mops")}")
      println(f"gen_s ${inputs.genSeconds}%.2f s (input generation, not in setup_s)")
      out.info.toSeq.sortBy(_._1).foreach { case (k, v) => println(s"$k $v") }
      val metrics =
        if (trace) out.layers.toSeq.sortBy(_._1).map { case (k, v) =>
          k -> Map("value" -> v, "unit" -> Layers.unitOf(k)) }
        else E2e.map { case (k, u) => k -> Map("value" -> out.e2e(k), "unit" -> u) }
      metrics.foreach { case (k, m) => println(s"metric $k ${Json(m("value"))} ${m("unit")}") }
      println(Json(Map("correct" -> correct, "attempted" -> out.attempted,
        "failed" -> out.failed, "metrics" -> metrics.toMap)))
      if (correct) 0 else 1
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        2
    } finally spark.stop()
    sys.exit(code)
  }
}
