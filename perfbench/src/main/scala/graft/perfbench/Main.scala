package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** What every workload shares: the session, the tracer, the seed, the
  * input scale and the run's working directory inside the checkout. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
                     sf: Double, work: String) {
  def log(msg: String): Unit = println(s"[perfbench] $msg")
}

/** A workload: set up (several times, for a steady set-up time), warm,
  * run for a fixed time, then check every result outside the timed part. */
trait Workload {
  /** Build inputs and pre-populate under `dir`; the last call's state is
    * what [[run]] uses. */
  def setup(dir: String): Unit
  /** Untimed passes over every op, so JIT and codegen are warm. */
  def warm(): Unit
  /** The timed part: run ops until `deadlineMs` (epoch ms). */
  def run(deadlineMs: Double): Unit
  /** Latency of each completed op, in ms. */
  def latenciesMs: Seq[Double]
  /** Seconds the timed ops ran, out of `wallS` of timed part; all of it
    * unless checks run between ops. */
  def activeS(wallS: Double): Double = wallS
  /** Check every op's result; returns (attempted, failed). */
  def check(): (Int, Int)
  /** Bytes on disk of the warehouse the workload writes or serves from. */
  def warehouseBytes: Long
  /** The workload's own end-to-end figures, by name, with units. */
  def report: Seq[(String, Double, String)]
  /** Per-layer figures from the traced run's spans. */
  def layers(spans: Seq[Span]): Seq[(String, Double, String)]
}

/** Entry point: `Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR [--sf F] [--setups N]`. Prints human-readable lines, then a
  * `RESULT {...}` line with the figures `perfbench/run.py` reports. */
object Main {
  val defaultSf: Map[String, Double] =
    Map("ingest" -> 0.005, "lookup" -> 0.005, "graph" -> 0.01)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = opts("workload")
    require(defaultSf.contains(name), s"unknown workload '$name'")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsolutePath
    val sf = opts.get("sf").map(_.toDouble).getOrElse(defaultSf(name))
    val setups = opts.getOrElse("setups", "3").toInt
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = GraftSession.configure(
        SparkSession.builder().master(s"local[$cores]"), cores)
      .config("spark.local.dir", Host.mkdirs(s"$work/spark-local"))
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, new Tracer(spark.sparkContext, trace), seed, sf, work)

    val wl: Workload = name match {
      case "ingest" => new Ingest(ctx)
      case "lookup" => new Lookup(ctx)
      case "graph" => new GraphPass(ctx)
    }
    val setupS = (1 to setups).map { i =>
      val s = System.nanoTime()
      wl.setup(s"$work/setup$i")
      val d = (System.nanoTime() - s) / 1e9
      ctx.log(f"setup $i: $d%.3f s")
      d
    }
    val setupEnd = System.nanoTime()
    wl.warm()
    val warmEnd = System.nanoTime()

    val gc0 = Host.gcMs()
    val cpu0 = Host.cpuTimes()
    val start = Clock.nowMs
    ctx.tracer.recording = true
    wl.run(start + seconds * 1000)
    ctx.tracer.recording = false
    val elapsedS = (Clock.nowMs - start) / 1000
    val steal = Host.stealFrac(cpu0, Host.cpuTimes())
    val gcMs = Host.gcMs() - gc0

    val runEnd = System.nanoTime()
    val (attempted, failed) = wl.check()
    val lat = wl.latenciesMs
    val heapMb = Host.retainedHeapMb()
    val whMb = wl.warehouseBytes / 1048576.0
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", sessionS + Stats.median(setupS), "s"),
      ("op_p50_ms", Stats.median(lat), "ms"),
      // p90: a 20 s lookup run holds ~140 ops, so p90 keeps >= 10 beyond it
      ("op_p90_ms", Stats.quantile(lat, 0.90), "ms"),
      ("ops_per_s", lat.size / wl.activeS(elapsedS), "1/s"),
      ("retained_heap_mb", heapMb, "MB"),
      ("warehouse_mb", whMb, "MB"))
    val context: Seq[(String, Any)] = Seq(
      "workload" -> name, "seed" -> seed, "sf" -> sf, "nproc" -> cores,
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "cpu_steal_frac" -> steal, "session_start_s" -> sessionS,
      "setup_runs_s" -> setupS, "ops" -> lat.size, "measured_s" -> elapsedS,
      "jvm_gc_ms" -> gcMs, "error_rate" -> failed.toDouble / attempted,
      "phase_s" -> Map(
        "jvm" -> ManagementFactory.getRuntimeMXBean.getUptime / 1000.0,
        "setups" -> ((setupEnd - t0) / 1e9 - sessionS),
        "warm" -> (warmEnd - setupEnd) / 1e9,
        "run" -> (runEnd - warmEnd) / 1e9,
        "check" -> (System.nanoTime() - runEnd) / 1e9))
    val own = wl.report
    ctx.log("context " + Json.obj(context))
    (e2e ++ own).foreach { case (n, v, u) => ctx.log(f"$n%-28s $v%14.4f $u") }

    val layerMetrics =
      if (!trace) Nil
      else {
        val spans = ctx.tracer.spans()
        val out = new PrintWriter(s"$work/spans.jsonl")
        try spans.sortBy(_.start).foreach(s => out.println(Tracer.toJson(s)))
        finally out.close()
        val lm = Layers.common(spans) ++ wl.layers(spans)
        lm.foreach { case (n, v, u) => ctx.log(f"layer $n%-44s $v%14.4f $u") }
        ctx.log(s"spans: ${spans.size} written to $work/spans.jsonl")
        lm
      }
    def metricMap(ms: Seq[(String, Double, String)]) =
      ms.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap
    println("RESULT " + Json.obj(Seq(
      "correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "e2e" -> metricMap(e2e), "own" -> metricMap(own),
      "layers" -> metricMap(layerMetrics), "context" -> context.toMap)))
    spark.stop()
  }
}
