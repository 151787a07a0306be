package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.model._

/** Named regression tests for the reference's semantic quirks
  * (SURVEY §2.3) against the pure state machines. */
class LogicSpec extends AnyFunSuite {

  test("happy path: cumulative 11,000 within window flags") {
    val (_, evs) = DetectorLogic.run(Seq((2000.0, 1000L), (9000.0, 1060L)))
    assert(evs.map(_.flagRemoved) == Seq(true, false))
  }

  test("threshold is >= at exactly 10,000 (detector.go:44)") {
    val (_, evs) = DetectorLogic.run(Seq((10000.0, 5L)))
    assert(evs == Seq(FlagEvent(flagRemoved = false, 5L)))
  }

  test("just below threshold does not flag") {
    val (_, evs) = DetectorLogic.run(Seq((9999.99, 5L)))
    assert(evs.head.flagRemoved)
  }

  test("reset discards the triggering deposit (SURVEY §2.3.1)") {
    // 9000 at t=1000 opens the window; 9000 at t=1130 is beyond 120 s:
    // the amount is added FIRST (received=18000) and then both fields are
    // zeroed — the second deposit is counted nowhere. (Timestamps are real
    // epochs: start==0 is the reference's no-window sentinel.)
    val (st, evs) = DetectorLogic.run(Seq((9000.0, 1000L), (9000.0, 1130L)))
    assert(st == Counter(0L, 0.0))
    assert(evs.map(_.flagRemoved) == Seq(true, true))
  }

  test("window boundary is strict: now - start > 120 resets, == 120 does not") {
    val (keep, _) = DetectorLogic.run(Seq((6000.0, 1000L), (6000.0, 1120L)))
    assert(keep == Counter(1000L, 12000.0))
    val (reset, _) = DetectorLogic.run(Seq((6000.0, 1000L), (6000.0, 1121L)))
    assert(reset == Counter(0L, 0.0))
  }

  test("window re-opens on the deposit AFTER a reset") {
    val (st, evs) = DetectorLogic.run(
      Seq((9000.0, 1000L), (9000.0, 1130L), (4000.0, 1140L)))
    // Third deposit opens a fresh window at t=1140 holding only 4000.
    assert(st == Counter(1140L, 4000.0))
    assert(evs.map(_.flagRemoved) == Seq(true, true, true))
  }

  test("flag is re-asserted every event, never latched (SURVEY §2.3.2)") {
    val (_, evs) = DetectorLogic.run(
      Seq((10000.0, 1000L), (1.0, 1130L), (1.0, 1140L)))
    // Flagged at t=1000; t=1130 resets the window (unflag); t=1140 re-opens
    // with 1.0 (unflag). The earlier flag does NOT stick.
    assert(evs.map(_.flagRemoved) == Seq(false, true, true))
  }

  test("flagger is last-write-wins; unflag zeroes the window start") {
    val afterFlag = FlaggerLogic.step(FlagEvent(flagRemoved = false, 77L))
    assert(afterFlag == FlagValue(flagged = true, 77L))
    val afterUnflag = FlaggerLogic.step(FlagEvent(flagRemoved = true, 0L))
    assert(afterUnflag == FlagValue(flagged = false, 0L))
  }

  test("manual flag is overwritten by the next detector verdict (SURVEY §2.3.2)") {
    val manual = FlaggerLogic.step(FlagEvent(flagRemoved = false, 1L))
    assert(manual.flagged)
    val next = FlaggerLogic.step(FlagEvent(flagRemoved = true, 0L))
    assert(!next.flagged)
  }

  test("property: every deposit emits exactly one event; flag iff windowed sum >= 10,000") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val n = 1 + rnd.nextInt(30)
      var t = 1000L
      val deposits = (1 to n).map { _ =>
        t += rnd.nextInt(200)
        (rnd.nextInt(6000).toDouble, t)
      }
      val (_, evs) = DetectorLogic.run(deposits)
      assert(evs.size == deposits.size)
      // Re-derive the expected verdicts with an independent simulation of
      // the documented semantics (windowed cumulative sum, reset-discard).
      var start = 0L; var recv = 0.0
      val expected = deposits.map { case (amt, now) =>
        recv += amt
        if (start == 0L) start = now
        else if (now - start > 120L) { start = 0L; recv = 0.0 }
        !(recv >= 10000.0 && start != 0L)
      }
      assert(evs.map(_.flagRemoved) == expected)
    }
  }
}
