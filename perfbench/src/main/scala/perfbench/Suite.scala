package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.{SparkEntry, Tables}

/** Every declared query in `SparkEntry.queries`, once per pass, in a
 * seeded order, each isolated as `graft.Bench` isolates them. A query's
 * wall covers its build call (table resolution and any iterative loop
 * run while the frame is built), forcing the physical plan, and the
 * digest action; the digest is checked against the committed one. */
final class Suite(digestFile: File, queries: Seq[String] = Suite.Queries) extends Workload {
  import Suite._

  private val expected: Map[String, String] = readDigests(digestFile)
  /** Runs of the last measured phase (profiles, digests), and of every
   * phase (checked). */
  private var runs = Seq.empty[Run]
  private var allRuns = Seq.empty[Run]
  private var failures = Seq.empty[String]

  /** Warm-up: two queries outside the measured set (a scan and a blob
   * decode). */
  def setup(ctx: Ctx): Unit =
    Warmup.foreach(q => runOne(ctx, q, new Trace(false, ""), None))

  private def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  private def runOne(ctx: Ctx, q: String, trace: Trace, probe: Option[Probe]): Run = {
    val spark = ctx.spark
    isolate(spark)
    val layer = if (LoopQueries(q)) "loop" else "entry"
    trace.span("suite", q) {
      val m0 = probe.map(_.snapshot())
      val t0 = System.nanoTime()
      try {
        val df = trace.span(layer, "SparkEntry.queries build") {
          SparkEntry.queries(q)(spark, ctx.dataDir.getPath)
        }
        val t1 = System.nanoTime()
        val m1 = probe.map(_.snapshot())
        trace.span("plan", "executedPlan") { df.queryExecution.executedPlan }
        val t2 = System.nanoTime()
        val m2 = probe.map { p => p.resetPeak(); p.snapshot() }
        val d = trace.span("exec", "digest action") { Digest.of(df) }
        val t3 = System.nanoTime()
        val build = (for (a <- m0; b <- m1) yield b.c - a.c).getOrElse(Counters())
        val exec = (for (p <- probe; a <- m2) yield p.since(a)).getOrElse(Counters())
        val skew = (for (p <- probe; a <- m2) yield p.skewSince(a)).getOrElse(1.0)
        System.err.println(f"[perfbench] $q%-32s build ${(t1 - t0) / 1e6}%8.1f plan ${(t2 - t1) / 1e6}%7.1f exec ${(t3 - t2) / 1e6}%8.1f ms")
        Run(q, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6, Some(d), build, exec, skew)
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
          Run(q, 0, 0, 0, None, Counters(), Counters(), 1.0)
      }
    }
  }

  def measure(ctx: Ctx, trace: Trace, probe: Option[Probe]): (Measured, Option[Map[String, Double]]) = {
    // a fixed order: a seeded one moved the median query wall by up to
    // 40% between seeds (a loop query run early slows what follows), so
    // the seed does not reorder the suite
    val order = queries
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val done = mutable.ArrayBuffer.empty[Run]
    var passes = 0
    while (passes == 0 || System.nanoTime() < deadline) {
      order.foreach(q => done += runOne(ctx, q, trace, probe))
      passes += 1
    }
    runs = done.toSeq
    allRuns ++= runs
    val ok = runs.filter(_.digest.isDefined)
    require(ok.nonEmpty, "every query failed")
    val walls = ok.map(r => r.buildMs + r.planMs + r.execMs)
    val tail = Stats.tail(walls, 90.0)
    val suiteS = walls.sum / 1000.0 / passes
    // the tail reported: with 19 walls a pass, the highest percentile
    // with ten samples beyond is the median itself, so the suite reports
    // the mean wall of the loop queries, its slow tail, instead
    val loopWalls = ok.filter(r => LoopQueries(r.query)).map(r => r.buildMs + r.planMs + r.execMs)
    val loopMean = if (loopWalls.isEmpty) 0.0 else loopWalls.sum / loopWalls.size
    val measured = Measured(order.size / suiteS, Stats.median(walls), loopMean, "loop_query_mean", Seq(
      "passes" -> passes.toString, "queries" -> order.size.toString,
      "suite_s" -> Json.num(suiteS), "query_p50_s" -> Json.num(Stats.median(walls) / 1000.0),
      "query_tail_s" -> s"${tail.label}:${Json.num(tail.value / 1000.0)}",
      "loop_query_mean_s" -> Json.num(loopMean / 1000.0),
      "query_samples" -> walls.size.toString))
    val layers = probe.map { p =>
      val n = passes.toDouble
      val loops = ok.filter(r => LoopQueries(r.query))
      val tables = resolveTables(ctx, trace, p)
      val exec = ok.map(_.exec).foldLeft(Counters())(_ + _)
      (Counters.layers(exec, Stats.median(ok.map(_.skew)), n) ++ Map(
        "passes" -> n,
        "tables.resolve_ms" -> tables.map(_._2).sum,
        "tables.jobs" -> tables.map(_._3).sum.toDouble,
        "entry.build_ms" -> ok.map(_.buildMs).sum / n,
        "entry.build_jobs" -> ok.map(_.build.jobs).sum / n,
        "loop.build_ms" -> loops.map(_.buildMs).sum / n,
        "loop.jobs" -> loops.map(_.build.jobs).sum / n,
        "plan.ms" -> ok.map(_.planMs).sum / n,
        "exec.ms" -> ok.map(_.execMs).sum / n))
    }
    (measured, layers)
  }

  /** Each `Tables` loader called once on its own, isolated: wall ms and
   * the Spark jobs it launched (schema inference). Loaders are found by
   * reflection, so a loader added to `Tables` is measured too. */
  private def resolveTables(ctx: Ctx, trace: Trace, p: Probe): Seq[(String, Double, Long)] = {
    val spark = ctx.spark
    classOf[Tables.type].getDeclaredMethods.toSeq
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers) &&
        classOf[Dataset[_]].isAssignableFrom(m.getReturnType))
      .filter(m => m.getParameterTypes.toSeq == Seq(classOf[SparkSession]) ||
        m.getParameterTypes.toSeq == Seq(classOf[SparkSession], classOf[String]))
      .sortBy(_.getName)
      .map { m =>
        isolate(spark)
        val mark = p.snapshot()
        val t0 = System.nanoTime()
        trace.span("tables", s"Tables.${m.getName}") {
          if (m.getParameterCount == 1) m.invoke(Tables, spark)
          else m.invoke(Tables, spark, ctx.dataDir.getPath)
        }
        val ms = (System.nanoTime() - t0) / 1e6
        (m.getName, ms, p.since(mark).jobs)
      }
  }

  def check(ctx: Ctx): (Long, Long) = {
    failures = allRuns.collect {
      case r if r.digest.isEmpty => s"${r.query}:threw"
      case r if !expected.get(r.query).contains(r.digest.get.toString) =>
        s"${r.query}:${r.digest.get}"
    }
    (allRuns.size.toLong, failures.size.toLong)
  }

  override def detail: Seq[(String, String)] = Seq("failed_queries" -> failures.mkString(" "))

  /** Per-query profile records of the traced pass, one JSON object each. */
  def profiles: Seq[String] = runs.map { r =>
    Seq("query" -> Json.str(r.query), "build_ms" -> Json.num(r.buildMs),
      "plan_ms" -> Json.num(r.planMs), "exec_ms" -> Json.num(r.execMs),
      "build_jobs" -> r.build.jobs.toString, "exec_jobs" -> r.exec.jobs.toString,
      "stages" -> (r.build.stages + r.exec.stages).toString,
      "tasks" -> (r.build.tasks + r.exec.tasks).toString,
      "task_ms" -> (r.build.taskMs + r.exec.taskMs).toString,
      "shuffle_write_bytes" -> (r.build.shuffleWriteBytes + r.exec.shuffleWriteBytes).toString,
      "shuffle_read_bytes" -> (r.build.shuffleReadBytes + r.exec.shuffleReadBytes).toString,
      "spill_bytes" -> (r.build.spillBytes + r.exec.spillBytes).toString,
      "peak_exec_mem_bytes" -> r.exec.peakExecMem.toString)
      .map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
  }

  /** Digests of every query, for recording the expected file. */
  def digests: Seq[(String, String)] =
    runs.flatMap(r => r.digest.map(d => r.query -> d.toString)).sortBy(_._1)
}

object Suite {
  /** One query run: phase walls, digest (none if it threw), and the
   * execution counters of the build and digest phases (traced only). */
  final case class Run(query: String, buildMs: Double, planMs: Double, execMs: Double,
      digest: Option[Digest.Value], build: Counters, exec: Counters, skew: Double)

  /** Queries whose build runs an iterative loop (CC, PageRank, BPE,
   * k-means). */
  val LoopQueries: Set[String] = Set("q_d6_dup_clusters", "q_d9_embed_clusters",
    "q_w25_host_rank", "q_w26_crawl_frontier", "q_x22_bpe_train", "q_s11_kmeans",
    "q_p10_cluster_split")

  /** The measured set: the loop queries plus twelve single-purpose
   * queries, every 8th other declared query in name order less the ten
   * of those that take longest at sf0.01. A pass over
   * all 178 queries takes about 150 s on 4 cores, too long to repeat for
   * every run. */
  val Queries: Seq[String] = (LoopQueries.toSeq ++ Seq(
    "q_f10_clamp", "q_j9_enrich_memory", "q_m17_ts_pes", "q_m39_gif_anim", "q_m5_audio_meta", "q_w10_url_host_stats",
    "q_w18_pdf_xref", "q_w34_content_encoding", "q_w4_webdataset_samples",
    "q_x12_top_terms", "q_x1_langid", "q_x7_winnow")).sorted

  val Warmup: Seq[String] = Seq("q_f1_dispatch", "q_m1_media_meta")

  /** The committed digest file: one `"query": "rows:hash"` pair a line. */
  def readDigests(f: File): Map[String, String] = {
    val pair = "\\s*\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"\\s*,?\\s*".r
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().collect { case pair(k, v) => k -> v }.toMap finally src.close()
  }

  def writeDigests(f: File, ds: Seq[(String, String)]): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.print(ds.map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }.mkString("{\n", ",\n", "\n}\n"))
    finally w.close()
  }
}
