package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Shared state of one run, handed to the workload. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val report: Report,
    val root: String, val seed: Long) {
  /** (op kind, seconds, ran traced) of every timed op, in order. */
  val samples = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
  /** True while the traced cycle runs: spans record only then. */
  var tracing = false
  private var warmup = false

  /** Time one closed-loop op. An exception aborts the run. */
  def op[T](kind: String)(body: => T): T = {
    report.attempted += 1
    val t0 = System.nanoTime()
    val r = span(s"op.$kind")(body)
    val s = (System.nanoTime() - t0) / 1e9
    if (!warmup) samples += ((kind, s, tracing))
    System.err.println(f"perfbench: op $kind%s ${s}%.3f s" +
      (if (warmup) " (warm-up)" else if (tracing) " (traced)" else ""))
    r
  }

  /** Untraced samples of one op kind. */
  def times(kind: String): Seq[Double] =
    samples.collect { case (k, s, false) if k == kind => s }.toSeq

  def span[T](name: String)(body: => T): T =
    if (tracing) tracer.span(name)(body) else body

  /** While tracing, run a stateless op three times: untraced to warm
    * its code paths (not sampled), untraced, then traced. */
  def bothWays[T](body: => T): T = {
    if (tracing) {
      tracing = false
      try {
        warmup = true
        try body finally warmup = false
        body
      } finally tracing = true
    }
    body
  }

  def time[T](what: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body
    val s = (System.nanoTime() - t0) / 1e9
    System.err.println(f"perfbench: $what%s ${s}%.3f s")
    (r, s)
  }
}

/** A benchmark workload: inputs staged in set-up, then one cycle — a
  * fixed sequence of closed-loop ops. */
trait Workload {
  /** Generate and stage the inputs under `dir`. */
  def stage(dir: String): Unit
  /** One-time set-up on the staged inputs. */
  def prepare(): Unit
  /** The measured cycle. While tracing, the bulk op (a build) runs
    * through [[Ctx.bothWays]], so the run can report its own tracing
    * overhead. */
  def cycle(): Unit
  /** Final output checks and metrics. */
  def finish(): Unit
  /** The op kind whose tracing overhead the result line reports. */
  def bulkOp: String
  /** The span that wraps each of the cycle's commits. */
  def commitSpan: String
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --root <run dir> --out <span dir> --run-id <id>`.
  *
  * Workloads: `fia_maintain` and `corpus_maintain` (the benchmark's),
  * and `fia_maintain_full` (by hand, see [[FiaMaintain]]).
  *
  * Untraced (`--trace 0`): set-up, one cycle, checks; prints the
  * end-to-end metrics. The staged inputs hold one cycle of changes and
  * a cycle always outlasts `--seconds`, so the measured work is the same
  * in every run.
  * Traced (`--trace 1`): the same with spans recorded; prints the
  * per-layer metrics and the tracing overhead (traced over untraced
  * time of the bulk op, which runs both ways). */
object Main {
  /** The result line's metrics, as BENCHMARK.json lists them. */
  val EndToEnd = Seq("setup_s", "bulk_rows_per_s", "refresh_s", "read_p50_s", "write_amp",
    "peak_rss_mb")
  val PerLayer = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_busy_s",
    "spark.idle_s", "spark.core_util", "spark.shuffle_bytes", "spark.gc_s",
    "ops.Fs.bytes_written", "commit.jobs", "commit.idle_s", "trace.overhead_ratio")

  def main(argv: Array[String]): Unit =
    try run(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    catch {
      // a failed op or refused traffic: no result line, and no lingering
      // non-daemon thread keeps the JVM alive
      case e: Throwable => e.printStackTrace(); sys.exit(2)
    }

  private def run(a: Map[String, String]): Unit = {
    val workload = a("workload"); val seed = a("seed").toLong
    val seconds = a("seconds").toInt; val traced = a("trace") == "1"
    val root = a("root"); val runId = a("run-id")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(cores)
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val report = new Report
    val tracer = new Tracer(spark, traced, runId)
    val ctx = new Ctx(spark, tracer, report, root, seed)
    val wl: Workload = workload match {
      case "fia_maintain" => new FiaMaintain(ctx, full = false)
      case "fia_maintain_full" => new FiaMaintain(ctx, full = true)
      case "corpus_maintain" => new CorpusMaintain(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val stageS = ctx.time("stage")(wl.stage(s"$root/stage"))._2
    val prepS = ctx.time("prepare")(wl.prepare())._2
    report.endToEnd("setup_s") = Metric(sessionS + stageS + prepS, "s")
    report.detail("setup") = Map("session_s" -> sessionS, "stage_s" -> stageS,
      "prepare_s" -> prepS)

    val m0 = System.nanoTime()
    if (traced) tracer.start()
    ctx.tracing = traced
    try wl.cycle() finally ctx.tracing = false
    report.detail("measured_s") = (System.nanoTime() - m0) / 1e9
    report.detail("seconds_arg") = seconds
    ctx.time("finish")(wl.finish())

    if (traced) {
      val kinds = ctx.samples.map(_._1).distinct
      val ratios = kinds.flatMap { k =>
        val on = ctx.samples.collect { case (`k`, s, true) => s }
        val off = ctx.samples.collect { case (`k`, s, false) => s }
        if (on.isEmpty || off.isEmpty) None
        else Some(k -> (Stats.median(on.toSeq) / Stats.median(off.toSeq) - 1))
      }
      report.detail("trace_overhead_ratio") = ratios.toMap
      Common.engineLayers(report, tracer.roots, tracer.layer(wl.commitSpan),
        spark.sparkContext.defaultParallelism)
      report.detail("engine") = Common.engineDetail(tracer.roots)
      report.perLayer("trace.overhead_ratio") = Metric(ratios.toMap.apply(wl.bulkOp), "ratio")
      tracer.dump(s"${a("out")}/$runId.spans.jsonl")
    }
    report.endToEnd("peak_rss_mb") = Metric(peakRssMb(), "MB")

    val (metrics, names) =
      if (traced) (report.perLayer, PerLayer) else (report.endToEnd, EndToEnd)
    require(metrics.keySet == names.toSet,
      s"metrics ${metrics.keys.mkString(",")} != ${names.mkString(",")}")
    report.detail("samples") = ctx.samples.map { case (k, s, t) =>
      Map("op" -> k, "s" -> s, "traced" -> t) }
    report.detail("failures") = report.failures
    println("perfbench-report " + Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "local" -> s"local[$cores]", "end_to_end" -> report.endToEnd,
      "per_layer" -> report.perLayer) ++ report.detail.toSeq))
    val failed = math.min(report.failed, report.attempted)
    println(Json.obj(Seq("correct" -> (failed == 0), "attempted" -> report.attempted,
      "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(names.map(n => n -> metrics(n)): _*))))
    spark.stop()
    sys.exit(if (failed == 0) 0 else 1)
  }

  /** VmHWM of this JVM: driver and local executors share it. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
