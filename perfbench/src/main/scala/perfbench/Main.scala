package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload replay|live|suite --seed N --seconds S
 * --trace 0|1`, from the root of a checkout. Prints a detail line, then
 * the result as the last stdout line. With `--trace 0` the result holds
 * the end-to-end metrics; with `--trace 1` the workload is measured once
 * untraced and once traced in the same session, and the result holds
 * the per-layer metrics, the self time per layer and the tracing
 * overhead. Exits 1 when an output check fails. */
object Main {
  /** Per-layer metric names and units; every traced run prints all of
   * them, 0 where the workload does not exercise the layer. */
  val PerLayer: Seq[(String, String)] = Seq(
    "tables.resolve_ms" -> "ms", "tables.jobs" -> "count",
    "entry.build_ms" -> "ms", "entry.build_jobs" -> "count",
    "loop.build_ms" -> "ms", "loop.jobs" -> "count",
    "plan.ms" -> "ms",
    "exec.ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_ms" -> "ms", "exec.gc_ms" -> "ms",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "spill.bytes" -> "bytes", "exec.skew" -> "ratio", "exec.peak_mem_bytes" -> "bytes",
    "rule.route_rows" -> "count", "rule.input_events" -> "count",
    "rule.fanout" -> "ratio", "rule.fires" -> "count",
    "sinks.ms" -> "ms", "sinks.rows" -> "count",
    "trigger.count" -> "count", "trigger.p50_ms" -> "ms", "trigger.plan_ms" -> "ms",
    "trigger.add_batch_ms" -> "ms", "trigger.wal_ms" -> "ms",
    "state.rows" -> "count", "state.bytes" -> "bytes", "state.commit_ms" -> "ms",
    "state.late_dropped" -> "count", "source.backlog" -> "count",
    "gen.late_ms" -> "ms", "watermark.lag_ms" -> "ms",
    "replay.local1_eps" -> "events/s") ++
    SelfLayers.map(l => s"self.${l}_ms" -> "ms") ++
    Seq("overhead.throughput_per_s" -> "1/s", "overhead.latency_p50_ms" -> "ms",
      "overhead.latency_tail_ms" -> "ms", "calib.start_s" -> "s", "calib.end_s" -> "s")

  /** Span layers whose self time is reported. */
  def SelfLayers: Seq[String] =
    Seq("tables", "entry", "loop", "plan", "exec", "rule", "sinks", "trigger", "suite", "replay")

  val Cores = 4

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1")
    require(Set("replay", "live", "suite")(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds >= 1, "--seconds must be at least 1")
    o
  }

  def session(master: String, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", master.filter(_.isDigit))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // graft.Bench silences these too: one WARN per released local
    // checkpoint, intentional and noisy
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        // no result line: the run failed before its outputs were checked
        e.printStackTrace()
        System.out.flush()
        sys.exit(2)
    }

  private def run(args: Array[String]): Unit = {
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    Machine.watchHeap()
    val o = parse(args)
    val root = new File(".").getCanonicalFile
    val bench = new File(root, "perfbench")
    val build = new File(root, ".bench_build")
    val work = new File(build, s"work/${o.workload}")
    Result.rmTree(work)
    work.mkdirs()
    val spark = session(s"local[$Cores]", work)
    val sessionS = (Clock.nowUs - jvmStartUs) / 1e6
    val c0 = System.nanoTime()
    val calibStart = Machine.calibrate(spark)
    val calibS = (System.nanoTime() - c0) / 1e9
    val ctx = Ctx(spark, o.seed, o.seconds, new File(bench, "data/sf0.01"), work)
    val w: Workload = o.workload match {
      case "replay" => new Replay()
      case "live" => new Live()
      case "suite" => new Suite(new File(bench, "expected/suite_digests.json"))
    }
    w.setup(ctx)
    // JVM start to the first timed call, less the contention probe
    val setupS = (Clock.nowUs - jvmStartUs) / 1e6 - calibS
    val runId = s"${o.workload}-seed${o.seed}-${System.currentTimeMillis()}"
    val trace = new Trace(o.trace, runId)
    val (plain, _) = w.measure(ctx, new Trace(false, runId), None)
    val traced = if (o.trace) {
      val probe = new Probe(spark)
      spark.sparkContext.addSparkListener(probe)
      Some(w.measure(ctx, trace, Some(probe)))
    } else None
    val checkStartUs = Clock.nowUs
    val (attempted, failed) = w.check(ctx)
    val calibEnd = Machine.calibrate(spark)
    spark.stop()
    System.err.println(f"[perfbench] set-up $setupS%.1f s, measured ${(checkStartUs - jvmStartUs) / 1e6 - setupS - calibS}%.1f s, check ${(Clock.nowUs - checkStartUs) / 1e6}%.1f s")

    val local1 = (w, traced) match {
      case (r: Replay, Some(_)) =>
        val s1 = session("local[1]", work)
        try r.local1Eps(ctx.copy(spark = s1)) finally s1.stop()
      case _ => 0.0
    }
    val rssMb = Machine.peakRssMb()
    val memMb = Machine.heapAfterGcPeakMb() + Machine.nonHeapPeakMb()

    val metrics: Seq[(String, Double, String)] = traced match {
      case None =>
        val v = Map("setup_s" -> setupS, "throughput_per_s" -> plain.throughput,
          "latency_p50_ms" -> plain.p50Ms, "latency_tail_ms" -> plain.tailMs,
          "peak_mem_mb" -> memMb)
        Result.EndToEnd.map { case (n, u) => (n, v(n), u) }
      case Some((t, layers)) =>
        val passes = layers.flatMap(_.get("passes")).getOrElse(1.0)
        val self = trace.selfMsByLayer
        val v = layers.getOrElse(Map.empty) ++
          SelfLayers.map(l => s"self.${l}_ms" -> self.getOrElse(l, 0.0) / passes) ++ Map(
          "overhead.throughput_per_s" -> (t.throughput - plain.throughput),
          "overhead.latency_p50_ms" -> (t.p50Ms - plain.p50Ms),
          "overhead.latency_tail_ms" -> (t.tailMs - plain.tailMs),
          "replay.local1_eps" -> local1,
          "calib.start_s" -> calibStart, "calib.end_s" -> calibEnd)
        PerLayer.map { case (n, u) => (n, v.getOrElse(n, 0.0), u) }
    }

    if (o.trace) {
      val dir = new File(build, "trace")
      dir.mkdirs()
      val profiles = w match { case s: Suite => s.profiles; case _ => Nil }
      val f = new File(dir, s"$runId.json")
      val out = new java.io.PrintWriter(f, "UTF-8")
      try out.print(s"""{"spans":${trace.toJson},"profiles":${profiles.mkString("[\n", ",\n", "\n]")}}""")
      finally out.close()
    }
    Result.rmTree(work)

    val detail = Seq("workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "setup_s" -> Json.num(setupS), "session_s" -> Json.num(sessionS),
      "vmhwm_mb" -> Json.num(rssMb), "heap_after_gc_peak_mb" -> Json.num(Machine.heapAfterGcPeakMb()),
      "nonheap_peak_mb" -> Json.num(Machine.nonHeapPeakMb()),
      "calib_start_s" -> Json.num(calibStart), "calib_end_s" -> Json.num(calibEnd),
      "latency_tail" -> Json.str(plain.tailLabel),
      "fail_ratio" -> Json.str(s"$failed/$attempted")) ++
      plain.detail.map { case (k, v) => k -> Json.str(v) } ++
      w.detail.map { case (k, v) => k -> Json.str(v) }
    println(detail.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{\"detail\":{", ",", "}}"))
    println(Result.line(failed == 0, attempted, failed, metrics))
    System.out.flush()
    if (failed != 0) sys.exit(1)
  }
}
