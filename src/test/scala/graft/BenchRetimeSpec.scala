package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's load-flagged self-retime, driven synthetically (injected
  * sentinel readings and retime timings stand in for real OS load, so
  * the correction logic is testable deterministically). */
class BenchRetimeSpec extends AnyFunSuite {

  // 60 queries, segment size 20: sentinels = [before, @20, @40, after]
  private val names = (0 until 60).map(i => f"q$i%02d")
  private def results(med: Double): Seq[(String, (Double, Double))] =
    names.map(n => n -> (med, med))

  test("flagged segments are the ones bracketed by an inflated sentinel") {
    // load during segment 1 shows in the @40 sentinel: segments 1 and 2
    // are bracketed by it, segment 0 is clean
    assert(Bench.flaggedSegments(Seq(0.4, 0.4, 1.2, 0.4), 60, 20) ==
      Seq(1, 2))
    assert(Bench.flaggedSegments(Seq(0.4, 0.4, 0.4, 0.4), 60, 20).isEmpty)
    // strict >1.5x: exactly 1.5x the floor is not flagged
    assert(Bench.flaggedSegments(Seq(0.4, 0.6, 0.4), 40, 20).isEmpty)
    assert(Bench.flaggedSegments(Seq(0.4, 0.61, 0.4), 40, 20) == Seq(0, 1))
    // degenerate inputs
    assert(Bench.flaggedSegments(Seq.empty, 60, 20).isEmpty)
    assert(Bench.flaggedSegments(Seq(0.4), 0, 20).isEmpty)
  }

  test("a flagged segment self-corrects; clean segments are untouched") {
    // every median inflated 5x by "load"; the box went quiet at run
    // end, so retimes come back at the true 0.3
    val inflated = names.map(n => n -> (1.5, 0.3))
    val retimedCalls = scala.collection.mutable.ArrayBuffer[String]()
    val (healed, retimed) = Bench.applyRetimes(inflated,
      Seq(0.4, 0.4, 1.2, 0.4), 20,
      n => { retimedCalls += n; 0.3 })
    // only segments 1 and 2 re-timed (queries 20..59)
    assert(retimed == names.drop(20))
    assert(retimedCalls.toSeq == names.drop(20))
    // flagged queries now carry the quiet reading, clean ones keep
    // their in-run medians
    assert(healed.take(20).forall(_._2._1 == 1.5))
    assert(healed.drop(20).forall(_._2._1 == 0.3))
  }

  test("whole-run load is refused against the persisted quiet floor") {
    // the blind spot segment retimes can't fix: load spanning the run
    // keeps every sentinel equally inflated (flat ratio, unflagged) —
    // only the cross-run baseline catches it. Floor 0.9 vs quiet
    // baseline 0.4: >1.5x → refuse.
    assert(Bench.environmentInvalid(0.9, Some(0.4)))
    // at or under the threshold: valid
    assert(!Bench.environmentInvalid(0.6, Some(0.4)))
    assert(!Bench.environmentInvalid(0.4, Some(0.4)))
    // first run ever (no baseline): nothing to refuse against
    assert(!Bench.environmentInvalid(99.0, None))
  }

  test("only clean runs ratchet the baseline floor, and only downward") {
    // first clean run establishes the floor
    assert(Bench.updatedBaseline(None, 0.5, runClean = true)
      .contains(0.5))
    // a faster clean run ratchets down
    assert(Bench.updatedBaseline(Some(0.5), 0.4, runClean = true)
      .contains(0.4))
    // a slower clean run never raises it
    assert(Bench.updatedBaseline(Some(0.4), 0.5, runClean = true)
      .contains(0.4))
    // a loaded/invalid run must not poison the reference
    assert(Bench.updatedBaseline(Some(0.4), 2.0, runClean = false)
      .contains(0.4))
    assert(Bench.updatedBaseline(None, 2.0, runClean = false).isEmpty)
  }

  test("baseline file round-trips through the flat-JSON codec") {
    val m = Map("/root/testdata/sf0.1@32cpus" -> 0.412345,
      "/root/testdata/sf0.01@8cpus" -> 0.1)
    val rendered = Bench.renderBaselines(m)
    val back = Bench.parseBaselines(rendered)
    assert(back.keySet == m.keySet)
    m.foreach { case (k, v) => assert(math.abs(back(k) - v) < 1e-6) }
    // unreadable text degrades to empty, never throws
    assert(Bench.parseBaselines("not json at all").isEmpty)
  }

  test("artifact round never falls behind an in-round detail file") {
    // fresh repo: first run is round 1
    assert(Bench.artifactRound(Seq.empty) == 1)
    // normal case: one past the newest harness artifact
    assert(Bench.artifactRound(Seq("BENCH_r11.json", "BENCH_r12.json")) == 13)
    // round-12 regression: the round-end run fires BEFORE the harness
    // writes BENCH_r12.json — the in-round detail must pin the round
    assert(Bench.artifactRound(
      Seq("BENCH_r11.json", "BENCH_DETAIL_r12.json")) == 12)
    // a _loaded sibling pins the round too
    assert(Bench.artifactRound(
      Seq("BENCH_r11.json", "BENCH_DETAIL_r12_loaded.json")) == 12)
    // unrelated files are ignored
    assert(Bench.artifactRound(
      Seq("CORRECTNESS_r12.json", "BENCH_DETAIL_r08.json.bak")) == 1)
    // so are non-default core-count runs (`_c<N>`): an 8-core artifact
    // never pins or advances the round
    assert(Bench.artifactRound(Seq("BENCH_r20.json", "BENCH_r21_c8.json",
      "BENCH_DETAIL_r22_c8.json")) == 21)
  }

  test("a load-flagged run never replaces a clean detail artifact") {
    // clean-over-anything and flagged-over-nothing both take the slot
    assert(Bench.detailTarget(13, newRunFlagged = false,
      existingCleanDetail = true) == "BENCH_DETAIL_r13.json")
    assert(Bench.detailTarget(13, newRunFlagged = true,
      existingCleanDetail = false) == "BENCH_DETAIL_r13.json")
    // flagged-over-clean diverts to the _loaded sibling
    assert(Bench.detailTarget(13, newRunFlagged = true,
      existingCleanDetail = true) == "BENCH_DETAIL_r13_loaded.json")
  }

  test("a still-loaded retime can only improve, never worsen") {
    val rs = results(1.0)
    val (healed, _) = Bench.applyRetimes(rs, Seq(0.4, 1.2, 0.4), 20,
      _ => 3.0) // retime under even worse load
    assert(healed.forall(_._2._1 == 1.0))
    // a crashed retime (-1) keeps the original reading
    val (healed2, _) = Bench.applyRetimes(rs, Seq(0.4, 1.2, 0.4), 20,
      _ => -1.0)
    assert(healed2.forall(_._2._1 == 1.0))
  }

  test("baseline re-seeds after 3 consecutive environment-invalid runs") {
    // round-14 verdict #6: the down-only ratchet had no recovery after
    // a permanent hardware slowdown — every run invalid forever.
    val b = Some(0.4)
    // invalid runs 1 and 2: hold the baseline, count the streak
    assert(Bench.baselineTransition(b, 0, 0.9, loadFlagged = false,
      envInvalid = true) == ((b, 1, false)))
    assert(Bench.baselineTransition(b, 1, 0.9, loadFlagged = false,
      envInvalid = true) == ((b, 2, false)))
    // the 3rd consecutive invalid run re-seeds to its own floor
    assert(Bench.baselineTransition(b, 2, 0.9, loadFlagged = false,
      envInvalid = true) == ((Some(0.9), 0, true)))
    // a clean run in between clears the streak and ratchets down
    assert(Bench.baselineTransition(b, 2, 0.3, loadFlagged = false,
      envInvalid = false) == ((Some(0.3), 0, false)))
    // a merely load-flagged run holds everything: transient load is
    // not evidence of a hardware change
    assert(Bench.baselineTransition(b, 2, 0.9, loadFlagged = true,
      envInvalid = false) == ((b, 2, false)))
    // a run that is BOTH load-flagged and environment-invalid is
    // transient-load evidence, not a hardware change: it must neither
    // advance the streak nor (on the 3rd) re-seed to a loaded floor
    assert(Bench.baselineTransition(b, 2, 0.9, loadFlagged = true,
      envInvalid = true) == ((b, 2, false)))
  }

  test("a rep that throws contributes no reading; all-throw errors the row") {
    // round-14 #2b: a broken query must never be timed by its throw —
    // an always-throwing body yields an errored row with the exception
    // named, not a 0.3 s reading
    val left = Bench.timeReps(3,
      () => throw new IllegalStateException("stale read path"))
    assert(left == Left("IllegalStateException: stale read path"))
    // a flaky rep is dropped from the reading but COUNTED (r15 ADVICE:
    // a 2-of-3-throw query used to report its lone surviving rep with
    // no flag anywhere) — median/min come from the successful reps only
    var rep = 0
    val right = Bench.timeReps(3, () => {
      rep += 1
      if (rep == 1) throw new RuntimeException("transient")
    })
    assert(right.isRight)
    val ((med, mn), failed) = right.toOption.get
    assert(med >= mn && mn >= 0.0)
    assert(failed == 1)
    // a fully healthy query reports zero failed reps
    assert(Bench.timeReps(2, () => ()).toOption.get._2 == 0)
  }

  test("drift gate: a row inflated vs its prior-round reading re-reps " +
      "in isolation and self-adjudicates") {
    // r15 verdict #1: three rows sat 14x/7x/3.6x their clean priors in
    // segments whose sentinels stayed quiet — nothing in the run could
    // see it. The prior-round committed detail is the reference.
    val prior = Map("a" -> 0.23, "b" -> 1.0, "c" -> 1.27, "d" -> 0.05)
    val inRun = Seq(
      "a" -> (3.25, 3.1),  // 14x prior: suspect
      "b" -> (1.4, 1.3),   // 1.4x: clean
      "c" -> (4.54, 4.4),  // 3.6x: suspect
      "d" -> (0.3, 0.3),   // 6x but only +0.25s absolute: below minDelta
      "e" -> (9.0, 8.8))   // no prior reading: cannot be judged
    assert(Bench.driftSuspects(inRun, prior) == Seq("a", "c"))
    // phantom case: the isolated re-rep collapses toward prior and the
    // row keeps the better reading; report carries all three numbers
    val rereps = Map("a" -> 0.25, "c" -> 4.6)
    val (merged, report) =
      Bench.applyDriftRereps(inRun, Seq("a", "c"), rereps)
    assert(merged.toMap.apply("a") == ((0.25, 0.25)))
    // real-regression case: c's re-rep CONFIRMS the reading — row keeps
    // its in-run median (min of 4.54 and 4.6), report shows both
    assert(merged.toMap.apply("c") == ((4.54, 4.4)))
    assert(merged.toMap.apply("b") == ((1.4, 1.3)))
    assert(report == Seq(("a", 3.25, 0.25), ("c", 4.54, 4.6)))
    // a crashed re-rep (-1) keeps the original reading
    val (kept, _) = Bench.applyDriftRereps(inRun, Seq("a"), _ => -1.0)
    assert(kept.toMap.apply("a") == ((3.25, 3.1)))
    // exactly 2.5x is NOT a suspect (strict >)
    assert(Bench.driftSuspects(Seq("x" -> (2.5, 2.5)),
      Map("x" -> 1.0)).isEmpty)
  }

  test("drift gate reference selection: newest prior-round clean-slot " +
      "detail, never a _loaded sibling, never this round's own file") {
    val files = Seq("BENCH_DETAIL_r13.json", "BENCH_DETAIL_r14.json",
      "BENCH_DETAIL_r15_loaded.json", "BENCH_DETAIL_r15_c8.json",
      "BENCH_DETAIL_r16.json", "BENCH_r15.json", "CORRECTNESS_r15.json")
    assert(Bench.priorDetailName(files, 16).contains(
      "BENCH_DETAIL_r14.json"))
    assert(Bench.priorDetailName(Seq("BENCH_DETAIL_r16.json"), 16).isEmpty)
    assert(Bench.priorDetailName(Seq.empty, 16).isEmpty)
  }

  test("drift gate parses the queries map out of a detail artifact") {
    val detail = """{"metric":"total","value":174.2,"unit":"sec",""" +
      """"queries":{"q_a":0.230000,"q_b":1.270000},""" +
      """"queries_min":{"q_a":0.200000,"q_b":1.100000},""" +
      """"load_flagged":false}"""
    val m = Bench.parseQueriesMap(detail)
    assert(m == Map("q_a" -> 0.23, "q_b" -> 1.27))
    // degenerate inputs never throw
    assert(Bench.parseQueriesMap("").isEmpty)
    assert(Bench.parseQueriesMap("{\"queries\":{").isEmpty)
  }

  test("protocol rep policy: sub-5s protocol rows run 2 reps (min-of), " +
      "long protocol rows stay single-rep, others keep median-of-reps") {
    // r20 verdict #4: single-rep readings of sub-5 s protocol pipelines
    // wobbled up to 2x; two reps publishing the min de-noises them,
    // while a >=5 s pipeline's second rep costs its wall clock for
    // little signal
    assert(Bench.repsFor(isProtocol = true, warmupSec = 2.3, reps = 3) == 2)
    assert(Bench.repsFor(isProtocol = true, warmupSec = 4.99, reps = 3) == 2)
    assert(Bench.repsFor(isProtocol = true, warmupSec = 5.0, reps = 3) == 1)
    assert(Bench.repsFor(isProtocol = true, warmupSec = 11.0, reps = 3) == 1)
    assert(Bench.repsFor(isProtocol = false, warmupSec = 0.1, reps = 3) == 3)
    assert(Bench.repsFor(isProtocol = false, warmupSec = 99.0, reps = 5) == 5)
  }

  test("verify's gate names throwing and never-executed queries, nonzero") {
    // round-14 #2a: the gate must catch BOTH a query that threw and a
    // registered query the run loop somehow skipped
    assert(Verify.gateReport(Set("a", "b"), Set("a", "b"),
      Seq.empty).isEmpty)
    val r1 = Verify.gateReport(Set("a", "b"), Set("a", "b"),
      Seq("b" -> "AnalysisException: PATH_NOT_FOUND"))
    assert(r1.exists(s => s.contains("FAILED: b") &&
      s.contains("PATH_NOT_FOUND")))
    val r2 = Verify.gateReport(Set("a", "b", "c"), Set("a"), Seq.empty)
    assert(r2.contains("NOT EXECUTED: b\nNOT EXECUTED: c"))
  }
}
