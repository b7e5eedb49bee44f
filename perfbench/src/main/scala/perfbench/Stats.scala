package perfbench

/** Pure arithmetic shared by the workloads: percentiles under the
 * "at least ten samples beyond" rule, fire latency, and the open-loop
 * generator schedule. No Spark here, so the rules are unit-tested on
 * their own. */
object Stats {

  /** Samples that must lie above a reported tail percentile. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail percentile as reported: its value, the percentile actually
   * used (0–100), how many samples lie above it and the sample count. */
  final case class Tail(value: Double, pct: Double, beyond: Int, n: Int) {
    def label: String =
      if (pct >= 100.0) "max" else "p" + BigDecimal(pct).setScale(1, BigDecimal.RoundingMode.DOWN)
        .bigDecimal.stripTrailingZeros.toPlainString
  }

  /** Nearest-rank percentile `want` (0 < want < 100) of `xs`, lowered
   * to the highest rank that still has [[MinBeyond]] samples above it.
   * With fewer than MinBeyond + 1 samples no rank qualifies; the
   * maximum is reported and labelled "max". */
  def tail(xs: Seq[Double], want: Double): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    require(want > 0 && want < 100, s"percentile out of range: $want")
    val s = xs.sorted
    val n = s.size
    if (n < MinBeyond + 1) Tail(s.last, 100.0, 0, n)
    else {
      val wanted = math.max(0, math.ceil(want / 100.0 * n).toInt - 1)
      val k = math.min(wanted, n - 1 - MinBeyond)
      val pct = if (k == wanted) want else (k + 1) * 100.0 / n
      Tail(s(k), pct, n - 1 - k, n)
    }
  }

  /** Event→fire latency: emission wall time minus the fire's `firedAt`,
   * both in epoch microseconds. For a complete fire `firedAt` is the
   * time stamp of its last event, for a timeout its deadline. */
  def fireLatencyMs(emittedUs: Long, firedAtUs: Long): Double =
    (emittedUs - firedAtUs) / 1000.0

  /** Open-loop schedule: event `i` (0-based) is due `i / rate` seconds
   * after `startUs`, whatever the system under test is doing. */
  def dueUs(startUs: Long, ratePerS: Double, i: Long): Long =
    startUs + math.floor(i * 1e6 / ratePerS).toLong

  /** Number of events due at or before `nowUs`. */
  def dueCount(startUs: Long, ratePerS: Double, nowUs: Long): Long =
    if (nowUs < startUs) 0L
    else math.floor((nowUs - startUs) * ratePerS / 1e6).toLong + 1

  /** How late the generator delivered an event: delivery minus due
   * time, never negative. */
  def lateMs(dueUs: Long, deliveredUs: Long): Double =
    math.max(0L, deliveredUs - dueUs) / 1000.0
}
