package graft.streaming

import graft.model._

/** The reference's detector and flagger state machines as pure functions —
  * independently unit-testable, wrapped by the Structured Streaming
  * processors in [[DepositStreams]]. (The collector's state machine is a
  * running sum, kept beside the detector's counter in the one keyed
  * deposit fold that [[DepositStreams]] projects.)
  *
  * Branch order is load-bearing (SURVEY §2.3) and mirrored exactly from
  * /root/reference; each quirk has a named regression test.
  */
object DetectorLogic {
  /** /root/reference/detector/detector.go:16-17 */
  val RollingPeriodSec = 120L
  val MaxAmount        = 10000.0

  /** One detector step (/root/reference/detector/detector.go:50-71), exact
    * branch order:
    *  1. received += amount                                   (:54)
    *  2. if no window open → open at `now`                    (:56-57)
    *  3. else if now - start > 120 s → zero BOTH fields,
    *     discarding the current deposit too (SURVEY §2.3.1)   (:59-62)
    *  4. verdict: received >= 10000 && window open (`>=`!)    (:42-45)
    *  5. every input emits exactly one flag/unflag event —
    *     the flag is re-asserted, never latched (SURVEY §2.3.2) (:66-71)
    *
    * `now` is processing time in the reference (time.Now().Unix(), :57);
    * callers inject it (tests pass the event's own timestamp).
    */
  def step(state: Counter, amount: Double, nowUnix: Long,
           windowSec: Long = RollingPeriodSec,
           threshold: Double = MaxAmount): (Counter, FlagEvent) = {
    var received = state.received + amount
    var start    = state.rollingPeriodStartUnix
    if (start == 0L) {
      start = nowUnix
    } else if (nowUnix - start > windowSec) {
      start = 0L
      received = 0.0
    }
    val next = Counter(start, received)
    val spam = next.received >= threshold && next.rollingPeriodStartUnix != 0L
    val event =
      if (spam) FlagEvent(flagRemoved = false, next.rollingPeriodStartUnix)
      else FlagEvent(flagRemoved = true, 0L)
    (next, event)
  }

  /** Fold a deposit sequence through the state machine (the reference
    * semantics oracle used by the property tests). */
  def run(deposits: Seq[(Double, Long)], windowSec: Long = RollingPeriodSec,
          threshold: Double = MaxAmount): (Counter, Seq[FlagEvent]) =
    deposits.foldLeft((Counter(0L, 0.0), Vector.empty[FlagEvent])) {
      case ((st, out), (amt, now)) =>
        val (next, ev) = step(st, amt, now, windowSec, threshold)
        (next, out :+ ev)
    }
}

object FlaggerLogic {
  /** Per-key LWW upsert (/root/reference/flagger/flagger.go:40-57): an
    * unflag event zeroes both fields; a flag event stores the window start.
    * Last event wins unconditionally. */
  def step(e: FlagEvent): FlagValue =
    if (e.flagRemoved) FlagValue(flagged = false, 0L)
    else FlagValue(flagged = true, e.rollingPeriodStartUnix)
}
