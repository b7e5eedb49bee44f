package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail keeps the wanted percentile when ten samples lie beyond it") {
    val t = Stats.tail((1 to 1000).map(_.toDouble), 99.0)
    assert(t.value == 990.0 && t.pct == 99.0 && t.beyond == 10 && t.n == 1000)
    assert(t.label == "p99")
  }

  test("tail lowers the percentile until ten samples lie beyond it") {
    val t = Stats.tail((1 to 100).map(_.toDouble), 99.0)
    assert(t.value == 90.0 && t.beyond == 10 && t.n == 100)
    assert(t.label == "p90")
    val odd = Stats.tail((1 to 37).map(_.toDouble), 99.0)
    assert(odd.beyond == 10 && odd.value == 27.0 && odd.label == "p72.9")
  }

  test("p90 of the 178-query suite has 17 samples beyond it") {
    val t = Stats.tail((1 to 178).map(_.toDouble), 90.0)
    assert(t.pct == 90.0 && t.beyond == 17 && t.value == 161.0)
  }

  test("with ten or fewer samples the tail is the labelled maximum") {
    val t = Stats.tail(Seq(3.0, 1.0, 2.0), 99.0)
    assert(t.value == 3.0 && t.label == "max" && t.beyond == 0 && t.n == 3)
    assert(Stats.tail((1 to 11).map(_.toDouble), 99.0).value == 1.0)
  }

  test("tail ignores input order") {
    val xs = scala.util.Random.shuffle((1 to 500).map(_.toDouble))
    assert(Stats.tail(xs, 99.0) == Stats.tail(xs.sorted, 99.0))
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("latency is emission minus firedAt: a complete's last event, a timeout's deadline") {
    val lastEventUs = Rules.micros(Rules.ts(1704067200123456L))
    assert(Stats.fireLatencyMs(1704067201123456L, lastEventUs) == 1000.0)
    val deadlineUs = 1704067200000000L + 2000000L
    assert(Stats.fireLatencyMs(deadlineUs + 1500L, deadlineUs) == 1.5)
  }

  test("open-loop schedule: due times do not depend on when the generator runs") {
    val start = 1000000L
    assert(Stats.dueUs(start, 1000.0, 0) == start)
    assert(Stats.dueUs(start, 1000.0, 250) == start + 250000L)
    assert(Stats.dueCount(start, 1000.0, start - 1) == 0)
    assert(Stats.dueCount(start, 1000.0, start) == 1)
    (0L until 5000L by 37).foreach { i =>
      assert(Stats.dueCount(start, 1000.0, Stats.dueUs(start, 1000.0, i)) == i + 1)
    }
  }

  test("generator lateness: a stall delays delivery but not due times") {
    val start = 0L
    val rate = 1000.0
    // ticks every 50 ms, then one tick 300 ms late: everything due in
    // between is delivered at once and reports its own lateness
    val tickAt = Seq(0L, 50000L, 100000L, 400000L, 450000L)
    var sent = 0L
    val late = tickAt.flatMap { at =>
      val due = Stats.dueCount(start, rate, at)
      val ls = (sent until due).map(i => Stats.lateMs(Stats.dueUs(start, rate, i), at))
      sent = due
      ls
    }
    assert(sent == 451)
    assert(late.max == 299.0) // event 101, due at 101 ms, delivered at 400 ms
    assert(late.count(_ > 50.0) == 249)
    assert(Stats.lateMs(10L, 5L) == 0.0)
  }

  test("self time subtracts the union of child intervals") {
    assert(Trace.coveredUs(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0L, 35L) == 25L)
    val spans = Seq(
      Span(0, -1, "sinks", "route", 0L, 100000L, Map.empty),
      Span(1, 0, "rule", "engine", 10000L, 40000L, Map.empty),
      Span(2, 0, "rule", "engine", 30000L, 60000L, Map.empty))
    val self = Trace.selfMsByLayer(spans)
    assert(self("sinks") == 50.0)
    assert(self("rule") == 60.0)
  }

  test("live/batch comparison: completes and timeouts before the watermark must match") {
    def f(kind: String, us: Long) = ("pay", "1", kind, us, 0L, 1)
    val batch = Seq(f("complete", 5000L), f("timeout", 8000L), f("timeout", 20000L))
    // the 20 ms timeout lies past the final watermark (10 ms): optional
    assert(Live.compare(batch.take(2), batch, 10L) == ((0L, 0L)))
    assert(Live.compare(batch, batch, 10L) == ((0L, 0L)))
    // a missing due timeout and a fire the batch never made
    assert(Live.compare(Seq(f("complete", 5000L), f("complete", 7000L)), batch, 10L) == ((1L, 1L)))
    // multiset: a duplicated live fire is extra
    assert(Live.compare(batch :+ batch.head, batch, 10L) == ((0L, 1L)))
  }
}
