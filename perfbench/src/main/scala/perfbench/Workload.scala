package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What a workload needs from the harness. `work` is a scratch
 * directory inside the checkout, emptied at the start of the run. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    dataDir: File, work: File)

/** One measured phase's end-to-end numbers, in the units of
 * [[Result.EndToEnd]]: units of work per second, the median and tail
 * latency in ms, what the tail is (a percentile label such as `p99`, or
 * the workload's own tail statistic), and detail-line diagnostics. */
final case class Measured(throughput: Double, p50Ms: Double, tailMs: Double,
    tailLabel: String, detail: Seq[(String, String)])

trait Workload {
  /** Build inputs and warm up; the harness times it as part of set-up. */
  def setup(ctx: Ctx): Unit
  /** Run one measured phase. Given a probe, record spans into `trace`
   * and return the per-layer numbers by metric name; without, none. */
  def measure(ctx: Ctx, trace: Trace, probe: Option[Probe]): (Measured, Option[Map[String, Double]])
  /** Check outputs after measuring: (attempted, failed). */
  def check(ctx: Ctx): (Long, Long)
  /** Extra diagnostics printed on the detail line. */
  def detail: Seq[(String, String)] = Nil
}

object Result {
  /** End-to-end metric names, units and the direction that is better.
   * Every run prints all of them; each workload defines its unit of
   * work and its latency (see perfbench/README.md). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "latency_p50_ms" -> "ms",
    "latency_tail_ms" -> "ms",
    "peak_mem_mb" -> "MB")

  def metric(name: String, value: Double, unit: String): String =
    s"${Json.str(name)}:{\"value\":${Json.num(value)},\"unit\":${Json.str(unit)}}"

  def line(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":""" +
      metrics.map { case (n, v, u) => metric(n, v, u) }.mkString("{", ",", "}") + "}"

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rmTree)
    f.delete()
  }
}
