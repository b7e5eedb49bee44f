package perfbench

import java.io.File
import java.time.Duration
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.model.Event
import graft.streaming.{RuleEngine, Sinks}

/** Open-loop streaming: one generator thread appends events to a
 * `MemoryStream` at a fixed offered rate, whatever the engine is doing;
 * `RuleEngine.runStreaming` runs the replay rule shapes with one hour
 * scaled to [[Live.Hour]]; a `foreachBatch` sink routes each trigger's
 * fires through `Sinks.routeFiredBatch` and records, per fire, the
 * emission wall time minus `firedAt`. An event's time stamp is the
 * wall-clock time it was due, so a stalled generator or engine shows up
 * as latency rather than being hidden. */
final class Live extends Workload {
  import Live._

  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  private val delivered = mutable.ArrayBuffer.empty[Event]
  private val deliveredCount = new AtomicLong(0)
  /** (due µs, delivered µs) of the first event of each generator tick. */
  private val ticks = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val stop = new AtomicBoolean(false)
  private var gen: Thread = _
  @volatile private var genStartUs = Long.MaxValue
  private var query: StreamingQuery = _
  private var listener: StreamingQueryListener = _
  private var checked: Seq[(String, String)] = Nil

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val out = new File(ctx.work, "live-out").getPath
    listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(Progress(Clock.nowUs, deliveredCount.get, e.progress))
    }
    spark.streams.addListener(listener)
    // prime: one second of load, added before the query starts (so the first
    // trigger takes it in at once) and processed before the generator runs, so
    // the cold first triggers (code generation, state store creation) do
    // not build a backlog the measured window would inherit. It is stamped
    // an hour back, so its timeouts fire as soon as the generator's events
    // move the watermark.
    val rnd = new java.util.SplittableRandom(ctx.seed)
    val primeStartUs = Clock.nowUs - 3600L * 1000000L
    val prime = (0L until Rate.toLong).map(i => event(rnd, i - Rate.toLong,
      Stats.dueUs(primeStartUs, Rate, i)))
    stream.addData(prime)
    delivered ++= prime
    deliveredCount.set(prime.size.toLong)
    val fired = RuleEngine.runStreaming(stream.toDS(), Rules.single(Hour))
    query = fired.writeStream
      .option("checkpointLocation", new File(ctx.work, "live-checkpoint").getPath)
      .foreachBatch { (batch: Dataset[RuleEngine.Fired], id: Long) =>
        val t0 = Clock.nowUs
        batch.persist()
        val fires = batch.filter(_.kind != "progress")
          .map(f => (f.rule, f.key, f.kind, Rules.micros(f.firedAt), Rules.micros(f.firstTs), f.chainLen))
          .collect()
        val t1 = Clock.nowUs
        val rows = Sinks.routeFiredBatch(batch.toDF(), out).values.sum
        val t2 = Clock.nowUs
        batch.unpersist()
        batches.add(Batch(id, t0, t1, t2, fires, rows))
        ()
      }
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .start()
    query.processAllAvailable()
    gen = new Thread(() => generate(rnd, stream), "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    // the generator runs a few triggers' worth before the window opens
    Thread.sleep(WarmupS * 1000L)
  }

  /** The open-loop generator: every [[TickMs]] it appends every event
   * due by now, each stamped with its due time; keys and types come from
   * the seed. (`MemoryStream` makes one input partition per append, so
   * appending per event or per millisecond would turn each trigger into
   * hundreds of tiny tasks.) */
  private def generate(rnd: java.util.SplittableRandom, stream: MemoryStream[Event]): Unit = {
    val startUs = Clock.nowUs
    genStartUs = startUs
    val primed = deliveredCount.get
    var sent = 0L
    while (!stop.get) {
      val nowUs = Clock.nowUs
      val due = Stats.dueCount(startUs, Rate, nowUs)
      if (due > sent) {
        val evs = (sent until due).map(i => event(rnd, i, Stats.dueUs(startUs, Rate, i)))
        stream.addData(evs)
        val at = Clock.nowUs
        ticks.add((Stats.dueUs(startUs, Rate, sent), at))
        delivered.synchronized { delivered ++= evs }
        sent = due
        deliveredCount.set(primed + sent)
      }
      Thread.sleep(math.max(1L, TickMs - (Clock.nowUs - nowUs) / 1000L))
    }
  }

  /** Event `i` stamped `dueUs`; key and type drawn from `rnd`. */
  private def event(rnd: java.util.SplittableRandom, i: Long, dueUs: Long): Event = {
    val key = if (rnd.nextInt(100) < HotPct) "0" else (1 + rnd.nextInt(Keys)).toString
    Event(Rules.Types(rnd.nextInt(Rules.Types.size)), Some(i.toString), Rules.ts(dueUs), None,
      Map("key" -> key))
  }

  def measure(ctx: Ctx, trace: Trace, probe: Option[Probe]): (Measured, Option[Map[String, Double]]) = {
    val mark = probe.map { p => p.resetPeak(); p.snapshot() }
    val w0 = Clock.nowUs
    Thread.sleep(ctx.seconds * 1000L)
    val w1 = Clock.nowUs
    org.apache.spark.perfbench.BusAccess.drain(ctx.spark.sparkContext)
    val inWin = batches.asScala.toSeq.filter(b => b.emitUs >= w0 && b.emitUs < w1)
    // fires of the primed events (stamped an hour back) are checked but
    // not timed: only the open-loop load's fires are latency samples
    val lat = for (b <- inWin; f <- b.fires.toSeq if f._4 >= genStartUs)
      yield Stats.fireLatencyMs(b.emitUs, f._4)
    require(lat.nonEmpty, "no fire was emitted in the measured window")
    val progs = progress.asScala.toSeq
    val eps = Live.processedRate(progs.map(p => (p.atUs, p.p.numInputRows)), w0, w1)
    val tail = Stats.tail(lat, 99.0)
    val measured = Measured(eps, Stats.median(lat), tail.value, tail.label, Seq(
      "offered_eps" -> Json.num(Rate), "live_eps" -> Json.num(eps),
      "fire_p50_ms" -> Json.num(Stats.median(lat)),
      "fire_tail" -> s"${tail.label}:${Json.num(tail.value)}", "fire_samples" -> lat.size.toString,
      "p99_limit_ms" -> Json.num(P99LimitMs),
      "met_limit" -> (tail.value <= P99LimitMs && eps >= Rate * KeptUpShare).toString))
    val layers = for (p <- probe; m <- mark) yield {
      val c = p.since(m)
      val winProgs = progs.filter(x => x.atUs >= w0 && x.atUs < w1).map(_.p)
      recordSpans(trace, winProgs, inWin)
      def med(f: StreamingQueryProgress => Double): Double =
        if (winProgs.isEmpty) 0.0 else Stats.median(winProgs.map(f))
      def dur(k: String)(q: StreamingQueryProgress): Double =
        Option(q.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val ops = winProgs.flatMap(_.stateOperators.toSeq)
      val input = (eps * (w1 - w0) / 1e6).max(1.0)
      val lateTicks = ticks.asScala.toSeq.filter(t => t._2 >= w0 && t._2 < w1)
      (Counters.layers(c, p.skewSince(m), 1.0) ++ Map(
        "exec.ms" -> inWin.map(b => (b.engineUs - b.startUs) / 1000.0).sum,
        "rule.route_rows" -> c.shuffleWriteRecords.toDouble,
        "rule.input_events" -> input,
        "rule.fanout" -> c.shuffleWriteRecords / input,
        "rule.fires" -> inWin.map(_.fires.length).sum.toDouble,
        "sinks.ms" -> inWin.map(b => (b.emitUs - b.engineUs) / 1000.0).sum,
        "sinks.rows" -> inWin.map(_.rows).sum.toDouble,
        "trigger.count" -> winProgs.size.toDouble,
        "trigger.p50_ms" -> med(_.batchDuration.toDouble),
        "trigger.plan_ms" -> med(dur("queryPlanning")),
        "trigger.add_batch_ms" -> med(dur("addBatch")),
        "trigger.wal_ms" -> med(dur("walCommit")),
        "state.rows" -> (if (ops.isEmpty) 0.0 else ops.map(_.numRowsTotal.toDouble).max),
        "state.bytes" -> (if (ops.isEmpty) 0.0 else ops.map(_.memoryUsedBytes.toDouble).max),
        "state.commit_ms" -> (if (ops.isEmpty) 0.0 else Stats.median(ops.map(_.commitTimeMs.toDouble))),
        "state.late_dropped" -> ops.map(_.numRowsDroppedByWatermark.toDouble).sum,
        "source.backlog" -> backlogMax(progs, w0, w1),
        "gen.late_ms" -> (if (lateTicks.isEmpty) 0.0 else lateTicks.map(t => Stats.lateMs(t._1, t._2)).max),
        "watermark.lag_ms" -> med(q =>
          (parseMs(q.timestamp) - watermarkMs(q).getOrElse(parseMs(q.timestamp))).toDouble)))
    }
    (measured, layers)
  }

  /** Trigger spans from the progress reports, with the phases Spark
   * reports laid out in execution order and the harness's own engine and
   * sinks spans (measured inside foreachBatch) under the add-batch phase. */
  private def recordSpans(trace: Trace, progs: Seq[StreamingQueryProgress], bs: Seq[Batch]): Unit = {
    val byId = bs.map(b => b.id -> b).toMap
    progs.foreach { q =>
      val start = parseMs(q.timestamp) * 1000L
      val total = q.batchDuration * 1000L
      val tid = trace.recordAt(-1, "trigger", s"trigger ${q.batchId}", start, start + total)
      var at = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k =>
          val d = Option(q.durationMs.get(k)).map(_.longValue * 1000L).getOrElse(0L)
          val pid = trace.recordAt(tid, "trigger", k, at, at + d)
          if (k == "addBatch") byId.get(q.batchId).foreach { b =>
            trace.recordAt(pid, "rule", "engine output (persist + collect)", b.startUs, b.engineUs)
            trace.recordAt(pid, "sinks", "Sinks.routeFiredBatch", b.engineUs, b.emitUs)
          }
          at += d
        }
    }
  }

  /** Largest gap between delivered and processed events at any trigger
   * end inside the window. */
  private def backlogMax(progs: Seq[Progress], w0: Long, w1: Long): Double = {
    var processedSoFar = 0L
    var worst = 0L
    progs.sortBy(_.atUs).foreach { p =>
      processedSoFar += p.p.numInputRows
      if (p.atUs >= w0 && p.atUs < w1) worst = math.max(worst, p.delivered - processedSoFar)
    }
    worst.toDouble
  }

  def check(ctx: Ctx): (Long, Long) = {
    val spark = ctx.spark
    import spark.implicits._
    stop.set(true)
    gen.join()
    query.processAllAvailable()
    query.stop()
    org.apache.spark.perfbench.BusAccess.drain(spark.sparkContext)
    spark.streams.removeListener(listener)
    val progs = progress.asScala.toSeq.map(_.p)
    val wmMs = progs.flatMap(watermarkMs).foldLeft(0L)(math.max)
    val late = progs.flatMap(_.stateOperators.toSeq).map(_.numRowsDroppedByWatermark).sum
    val events = delivered.synchronized(delivered.toList)
    val live = batches.asScala.toSeq.flatMap(_.fires.toSeq)
    val batch = RuleEngine.runBatch(spark.createDataset(events).repartition(4), Rules.single(Hour))
      .filter(_.kind != "progress")
      .map(f => (f.rule, f.key, f.kind, Rules.micros(f.firedAt), Rules.micros(f.firstTs), f.chainLen))
      .collect().toSeq
    val (missing, extra) = Live.compare(live, batch, wmMs)
    checked = Seq("delivered" -> events.size.toString, "live_fires" -> live.size.toString,
      "batch_fires" -> batch.size.toString, "missing" -> missing.toString,
      "extra" -> extra.toString, "late_dropped" -> late.toString,
      "final_watermark_ms" -> wmMs.toString)
    (events.size.toLong, missing + extra + late)
  }

  override def detail: Seq[(String, String)] = checked
}

object Live {
  /** One routed fire as collected from a trigger: rule, key, kind,
   * firedAt µs, first µs, chain length. */
  type Fire = (String, String, String, Long, Long, Int)

  /** One trigger as the foreachBatch sink saw it: start, end of the
   * engine's output, emission (Sinks returned), the fires and the rows
   * written. */
  final case class Batch(id: Long, startUs: Long, engineUs: Long, emitUs: Long,
      fires: Array[Fire], rows: Long)

  /** A progress report with the arrival time and the events delivered
   * by then. */
  final case class Progress(atUs: Long, delivered: Long, p: StreamingQueryProgress)

  /** Offered load, events per second: about half of what the engine
   * sustained on a 4-core box with this rule set. */
  val Rate = 500.0
  /** One rule-hour in the live workload. */
  val Hour: Duration = Duration.ofSeconds(2)
  val Keys = 2000
  val HotPct = 20
  /** Trigger interval. A trigger takes about 1.5–2 s at the offered
   * rate on 4 cores; a fixed cadence above that keeps one slow trigger
   * from setting the pace of the ones after it (back-to-back triggers
   * each take in what piled up during the last, so a slow one lengthens
   * the next). */
  val TriggerMs = 3000L
  /** Generator tick: events due within one tick are appended together. */
  val TickMs = 50L
  /** Seconds the generator runs, after priming, before the window. */
  val WarmupS = 3
  /** The p99 event→fire latency the offered rate must meet: about three
   * times what the engine shows at the offered rate on 4 cores. */
  val P99LimitMs = 20000.0
  /** Processing below this share of the offered rate means the backlog
   * grew over the window. */
  val KeptUpShare = 0.95

  /** Events processed per second over the window: the input rows of the
   * triggers that ended inside it, after the first of them, divided by
   * the time between the first and the last trigger end. */
  def processedRate(ends: Seq[(Long, Long)], w0: Long, w1: Long): Double = {
    val in = ends.filter { case (at, _) => at >= w0 && at < w1 }.sortBy(_._1)
    require(in.size >= 2, s"only ${in.size} trigger(s) ended in the measured window")
    in.tail.map(_._2).sum / ((in.last._1 - in.head._1) / 1e6)
  }

  def parseMs(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli

  def watermarkMs(q: StreamingQueryProgress): Option[Long] =
    Option(q.eventTime.get("watermark")).map(parseMs)

  /** Prefix consistency between the live and the batch fire sets.
   * Every live fire must be a batch fire; every batch complete, and
   * every batch timeout whose timer (deadline rounded up to the ms) lies
   * before the final watermark, must be a live fire. Returns (missing,
   * extra) as multiset counts. */
  def compare[F <: Product](live: Seq[F], batch: Seq[F], wmMs: Long,
      kind: F => String = (f: F) => f.productElement(2).asInstanceOf[String],
      firedUs: F => Long = (f: F) => f.productElement(3).asInstanceOf[Long]): (Long, Long) = {
    def bag(xs: Seq[F]): Map[F, Int] = xs.groupBy(identity).map { case (k, v) => k -> v.size }
    val liveBag = bag(live)
    val batchBag = bag(batch)
    val due = (f: F) => kind(f) == "complete" || math.floorDiv(firedUs(f) + 999L, 1000L) < wmMs
    val missing = batchBag.collect { case (f, n) if due(f) => math.max(0, n - liveBag.getOrElse(f, 0)) }.sum
    val extra = liveBag.collect { case (f, n) => math.max(0, n - batchBag.getOrElse(f, 0)) }.sum
    (missing.toLong, extra.toLong)
  }
}
