package perfbench

import java.io.File
import java.time.Duration

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Event
import graft.streaming.{RuleEngine, Sinks}

/** Historical (batch) replay: generated events in the ScaleProbe shape
 * run through `RuleEngine.runBatch` (three rules) and
 * `RuleEngine.runBatchAligned` (the q_e6 trio); both fire sets go
 * through `Sinks.routeFiredBatch`. One pass is the unit that is timed:
 * from the first RuleEngine call until the last Sinks write returns. */
final class Replay extends Workload {
  import Replay.{Events, MinPasses}
  private val hour = Duration.ofHours(1)
  private var flat: DataFrame = _
  private var typed: Dataset[Event] = _
  private var lastOut: File = _
  /** Rows the Sinks wrote per pass: this phase's passes, and every
   * measured pass (checked). */
  private var passCounts: Seq[Map[String, Long]] = Nil
  private var allCounts: Seq[Map[String, Long]] = Nil

  def setup(ctx: Ctx): Unit = {
    flat = Replay.generate(ctx.spark, ctx.seed, Events)
    typed = Replay.typed(flat).cache()
    require(typed.count() == Events)
    // warm-up: one full pass, so the timed passes start with generated
    // code compiled and the JIT warm (a first pass runs ~1.5x slower)
    pass(ctx, typed, new Trace(false, ""), None)
  }

  /** One timed pass; returns its wall time in seconds. */
  private def pass(ctx: Ctx, in: Dataset[Event], trace: Trace, probe: Option[Probe]): Double = {
    val out = new File(ctx.work, "replay-out")
    Result.rmTree(out)
    val t0 = Clock.nowUs
    val counts = trace.span("replay", "pass") {
      val single = trace.span("rule", "RuleEngine.runBatch") {
        RuleEngine.runBatch(in, Rules.single(hour))
      }
      val aligned = trace.span("rule", "RuleEngine.runBatchAligned") {
        RuleEngine.runBatchAligned(in, Rules.aligned(hour), Rules.key)
      }
      Seq(route(single.toDF(), new File(out, "single"), trace, probe),
        route(aligned.toDF(), new File(out, "aligned"), trace, probe))
    }
    val dt = (Clock.nowUs - t0) / 1e6
    lastOut = out
    passCounts :+= counts.reduce((a, b) => (a.keySet ++ b.keySet).map(k =>
      k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap)
    dt
  }

  /** `Sinks.routeFiredBatch` under a span. Its first job computes the
   * engine's output (the routed shuffle, the interpreter and the cache
   * of the outputs); that job is recorded as a `rule` child span, so
   * the sinks layer's self time is the counting and writing. */
  private def route(fired: DataFrame, dir: File, trace: Trace, probe: Option[Probe]): Map[String, Long] = {
    val mark = probe.map(_.snapshot())
    val r = trace.span("sinks", "Sinks.routeFiredBatch") {
      val r = Sinks.routeFiredBatch(fired, dir.getPath)
      for (p <- probe; m <- mark) p.jobsSince(m).headOption.foreach { case (a, b) =>
        trace.record("rule", "engine output (first job)", a * 1000L, b * 1000L)
      }
      r
    }
    trace.annotate("Sinks.routeFiredBatch", Map("rows" -> r.values.sum.toDouble))
    r
  }

  def measure(ctx: Ctx, trace: Trace, probe: Option[Probe]): (Measured, Option[Map[String, Double]]) = {
    passCounts = Nil
    val mark = probe.map { p => p.resetPeak(); p.snapshot() }
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    // at least MinPasses, so the median is never an average with one
    // slow pass (with two passes it was, and runs split into two modes
    // 25% apart); then a pass starts only if it should end before the
    // deadline (judged by the last one)
    while (walls.size < MinPasses || System.nanoTime() + walls.last * 1e9 <= deadline)
      walls += pass(ctx, typed, trace, probe)
    allCounts ++= passCounts
    val ms = walls.map(_ * 1000.0).toSeq
    val tail = Stats.tail(ms, 90.0)
    val measured = Measured(
      throughput = Events / Stats.median(walls.toSeq),
      p50Ms = Stats.median(ms), tailMs = tail.value, tailLabel = tail.label,
      detail = Seq("passes" -> walls.size.toString, "events_per_pass" -> Events.toString,
        "replay_eps" -> Json.num(Events / Stats.median(walls.toSeq))))
    val layers = for (p <- probe; m <- mark) yield {
      val c = p.since(m)
      val n = walls.size.toDouble
      val sinks = trace.all.filter(_.layer == "sinks")
      val rows = passCounts.map(_.values.sum).sum.toDouble
      (Counters.layers(c, p.skewSince(m), n) ++ Map(
        "passes" -> n,
        "exec.ms" -> trace.all.filter(_.name == "engine output (first job)").map(_.ms).sum / n,
        "rule.route_rows" -> c.shuffleWriteRecords / n,
        "rule.input_events" -> Events.toDouble,
        "rule.fanout" -> c.shuffleWriteRecords / n / Events,
        "rule.fires" -> rows / n,
        "sinks.ms" -> sinks.map(_.ms).sum / n,
        "sinks.rows" -> rows / n))
    }
    (measured, layers)
  }

  def check(ctx: Ctx): (Long, Long) = {
    val ref = Replay.reference(flat, hour.toNanos / 1000L)
    val got = Replay.readSinks(ctx.spark, lastOut)
    val (attempted, missing, extra) = Replay.compare(ref, got)
    // every timed pass must have written exactly the reference's rows
    val perPass = allCounts.map(_.values.sum)
    val wrongPasses = perPass.map(n => math.abs(n - attempted)).sum
    mismatch = Seq("missing" -> missing.toString, "extra" -> extra.toString,
      "pass_rows_off" -> wrongPasses.toString)
    (attempted, missing + extra + wrongPasses)
  }

  private var mismatch: Seq[(String, String)] = Nil
  override def detail: Seq[(String, String)] = mismatch

  /** The like-for-like single-core figure: events/s of the same pass on
   * a `local[1]` session, median of the passes that fit in a third of
   * `seconds` (at least one). */
  def local1Eps(ctx: Ctx): Double = {
    val in = Replay.typed(Replay.generate(ctx.spark, ctx.seed, Replay.Local1Events)).cache()
    in.count()
    pass(ctx, in, new Trace(false, ""), None)
    val deadline = System.nanoTime() + math.max(1, ctx.seconds / 3) * 1000000000L
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (walls.isEmpty || System.nanoTime() < deadline) walls += pass(ctx, in, new Trace(false, ""), None)
    in.unpersist()
    Replay.Local1Events / Stats.median(walls.toSeq)
  }
}

object Replay {
  /** Events per timed pass. Large enough that planning and job launch
   * are a small share of a pass on 4 cores. */
  val Events = 64000L
  /** Fewest timed passes per phase. */
  val MinPasses = 3
  /** Events per pass of the single-core baseline. */
  val Local1Events = 50000L
  val Keys = 100000L
  /** Percent of events on the hot key "0". */
  val HotPct = 20
  val StartUs = 1704067200000000L // 2024-01-01T00:00:00Z
  val MonthUs = 30L * 24 * 3600 * 1000000L

  private def h(seed: Long, salt: Int): Column =
    xxhash64(lit(seed), col("id"), lit(salt))

  /** Flat events (event_id, ts_us, key, type). Times are strictly
   * increasing in event_id with a seeded jitter inside each slot, so no
   * two events share a time stamp; keys are uniform over [[Keys]] except
   * the hot key; the row order is a seeded permutation. */
  def generate(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val slot = MonthUs / n
    require(slot >= 2, s"$n events do not fit one month at distinct microseconds")
    spark.range(0, n, 1, 4).select(
      col("id").as("event_id"),
      (lit(StartUs) + col("id") * slot + pmod(h(seed, 4), lit(slot))).as("ts_us"),
      when(pmod(h(seed, 1), lit(100L)) < HotPct, lit("0"))
        .otherwise((pmod(h(seed, 2), lit(Keys)) + 1).cast("string")).as("key"),
      element_at(array(Rules.Types.map(lit): _*),
        (pmod(h(seed, 3), lit(Rules.Types.size.toLong)) + 1).cast("int")).as("type"),
      h(seed, 5).as("order"))
      .orderBy("order").drop("order")
  }

  def typed(flat: DataFrame): Dataset[Event] = {
    import flat.sparkSession.implicits._
    flat.select(col("type").as("event"), col("event_id").cast("string").as("id"),
      timestamp_micros(col("ts_us")).as("datetime"),
      lit(null).cast("timestamp").as("receivedTime"),
      map(lit("key"), col("key")).as("payload")).as[Event]
  }

  /** Reference fire set (rule, key, kind, fired_us, first_us, n) for
   * the complete and timeout fires of [[Rules.single]] and
   * [[Rules.aligned]], formulated with window functions only (no
   * self-join, which the hot key would explode), with the q_e1, q_e2,
   * q_e3, q_e4 and q_e6 oracle semantics: half-open timeout windows,
   * one matcher per signup, sessions split at a gap of at least the
   * timeout, the chain trimmed to [[Rules.SessionChain]]. */
  def reference(flat: DataFrame, hourUs: Long): DataFrame = {
    // descending running frames: "the next X after this row" in O(n)
    val later = Window.partitionBy("key").orderBy(col("ts_us").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withNext = flat
      .withColumn("next_p", min(when(col("type") === "purchase", col("ts_us"))).over(later))
      .withColumn("next_e", min(when(col("type") === "error", col("ts_us"))).over(later))
      .withColumn("p_then_e", last(when(col("type") === "purchase",
        struct(col("ts_us").as("p"), col("next_e").as("e"))), ignoreNulls = true).over(later))
    val s = withNext.filter(col("type") === "signup")
    def fire(rule: String, kind: Column, fired: Column, n: Column): DataFrame =
      s.select(lit(rule).as("rule"), col("key"), kind.as("kind"), fired.as("fired_us"),
        col("ts_us").as("first_us"), n.as("n"))
    def pay(rule: String): DataFrame = {
      val done = col("next_p").isNotNull && col("next_p") < col("ts_us") + hourUs
      fire(rule, when(done, "complete").otherwise("timeout"),
        when(done, col("next_p")).otherwise(col("ts_us") + hourUs), when(done, 2).otherwise(1))
    }
    val two = 2 * hourUs
    val p = col("p_then_e.p")
    val e = col("p_then_e.e")
    val advanced = p.isNotNull && p < col("ts_us") + two
    val done = advanced && e.isNotNull && e < p + two
    val escalate = fire("escalate", when(done, "complete").otherwise("timeout"),
      when(done, e).when(advanced, p + two).otherwise(col("ts_us") + two),
      when(done, 3).when(advanced, 2).otherwise(1))
    val byTime = Window.partitionBy("key").orderBy("ts_us")
    val sessRows = flat
      .withColumn("gap", col("ts_us") - lag("ts_us", 1).over(byTime))
      .withColumn("sid", sum(when(col("gap").isNull || col("gap") >= hourUs / 2, 1).otherwise(0))
        .over(byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(Window.partitionBy("key", "sid").orderBy("ts_us")))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("key", "sid")))
    val sessions = sessRows.filter(col("rn") > col("cnt") - Rules.SessionChain)
      .groupBy("key", "sid").agg(min("ts_us").as("first_us"), max("ts_us").as("last_us"),
        count(lit(1)).cast("int").as("n"))
      .select(lit("session").as("rule"), col("key"), lit("timeout").as("kind"),
        (col("last_us") + hourUs / 2).as("fired_us"), col("first_us"), col("n"))
    val views = flat.filter(col("type") === "view")
      .select(lit("r0_view_quarantine").as("rule"), col("key"),
        lit("complete").as("kind"), col("ts_us").as("fired_us"), col("ts_us").as("first_us"),
        lit(1).as("n"))
    val unviewed = fire("r1_signup_view", lit("timeout"), col("ts_us") + hourUs, lit(1))
    Seq(pay("pay"), escalate, sessions, views, unviewed, pay("r2_signup_purchase"))
      .reduce(_ unionByName _)
  }

  /** Multiset comparison in one job: (rows of `ref`, rows of `ref`
   * that `got` lacks, rows of `got` that `ref` lacks), the counts that
   * `ref.exceptAll(got)` and `got.exceptAll(ref)` would give. */
  def compare(ref: DataFrame, got: DataFrame): (Long, Long, Long) = {
    val cols = ref.columns.toSeq.map(col)
    val r = ref.withColumn("side", lit(1)).unionByName(got.withColumn("side", lit(-1)))
      .groupBy(cols: _*)
      .agg(sum(when(col("side") === 1, 1L).otherwise(0L)).as("r"),
        sum(when(col("side") === -1, 1L).otherwise(0L)).as("g"))
      .agg(sum("r"), sum(greatest(col("r") - col("g"), lit(0L))),
        sum(greatest(col("g") - col("r"), lit(0L))))
      .head()
    def at(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    (at(0), at(1), at(2))
  }

  /** The fires as the Sinks wrote them, in the reference's shape. */
  def readSinks(spark: SparkSession, out: File): DataFrame = {
    val dirs = for {
      face <- Seq("single", "aligned"); table <- Seq("actions", "memory_writes")
      d = new File(out, s"$face/$table") if d.isDirectory
    } yield d.getPath
    spark.read.parquet(dirs: _*).select(col("rule"), col("key"), col("fire_kind").as("kind"),
      unix_micros(col("firedAt")).as("fired_us"),
      element_at(col("vars"), "first").cast("long").as("first_us"),
      element_at(col("vars"), "n").cast("int").as("n"))
  }
}
