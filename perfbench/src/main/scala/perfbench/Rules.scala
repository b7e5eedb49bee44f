package perfbench

import java.sql.Timestamp
import java.time.Duration

import graft.model.Event
import graft.rules.{OutputData, RuleSpec}

/** The benchmark's fixed rule set, in the shapes of the declared
 * e-family queries. Every complete and timeout fire carries one action
 * or memory output whose vars record the chain's first event time (µs)
 * and length, so the Sinks output alone can be checked against the
 * reference. `hour` is the unit the timeouts are written in: one hour
 * for replay, scaled to seconds for the live workload. */
object Rules {
  def micros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  def ts(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  private def out(kind: String, name: String): Seq[Event] => Seq[OutputData] =
    chain => Seq(OutputData(kind, name, Map(
      "first" -> micros(chain.head.effectiveTime).toString,
      "n" -> chain.size.toString)))

  val key: Event => String = _.payload("key")

  /** Session chains are trimmed to this many events. */
  val SessionChain = 100

  /** signup→purchase within 1 h, signup→purchase→error within 2 h per
   * step, and a continuous 30-min session over every event (q_e1/q_e2,
   * q_e3 and q_e4 shapes), all through one `runBatch`/`runStreaming`. */
  def single(hour: Duration): Seq[RuleSpec] = Seq(
    RuleSpec("pay", Seq(Set("signup"), Set("purchase")), Some(hour), key,
      onComplete = out("action", "paid"), onTimeout = out("action", "remind")),
    RuleSpec("escalate", Seq(Set("signup"), Set("purchase"), Set("error")),
      Some(hour.multipliedBy(2)), key,
      onComplete = out("action", "escalate"), onTimeout = out("action", "expire")),
    RuleSpec("session", Seq(Set(Event.MatchAny)), Some(hour.dividedBy(2)), key,
      continuous = true, chainLimit = SessionChain,
      onTimeout = out("memory", "session")))

  /** The q_e6 suppress/sequence trio for `runBatchAligned`: a
   * suppressing view quarantine, a signup→view sequence that therefore
   * never completes, and the signup→purchase flagship. */
  def aligned(hour: Duration): Seq[RuleSpec] = Seq(
    RuleSpec("r0_view_quarantine", Seq(Set("view")), None, key,
      suppressOnMatch = true, onComplete = out("action", "quarantine")),
    RuleSpec("r1_signup_view", Seq(Set("signup"), Set("view")), Some(hour), key,
      onComplete = out("action", "viewed"), onTimeout = out("action", "unviewed")),
    RuleSpec("r2_signup_purchase", Seq(Set("signup"), Set("purchase")), Some(hour), key,
      onComplete = out("action", "paid"), onTimeout = out("action", "remind")))

  val Types: Seq[String] = Seq("click", "view", "signup", "purchase", "error")
}
