package graft

import org.scalatest.funsuite.AnyFunSuite

/** Forced-failure proof for the `graft.Scale` regression gates: each won
  * bar must TRIP when exceeded (a regression exits the smoke nonzero)
  * and hold at the r13 measured values (the smoke stays green on the
  * current tree). Pure predicates — no Spark session.
  */
class ScaleGatesSpec extends AnyFunSuite {

  test("IVM steady-overhead gate holds the won bar and trips past it") {
    assert(ScaleGates.ivmSteadyOk(2.45)) // r13 measured
    assert(ScaleGates.ivmSteadyOk(3.5)) // the ceiling itself
    assert(!ScaleGates.ivmSteadyOk(3.51)) // forced failure: lost fusion
    assert(!ScaleGates.ivmSteadyOk(-1.0)) // no steady epochs ran
  }

  test("100x post-migration IVM steady gate holds the A/B bar and trips " +
      "past it") {
    assert(ScaleGates.ivm100SteadyOk(2.10)) // IVM_BUCKETS_AB_r14 arm 3
    assert(ScaleGates.ivm100SteadyOk(3.5)) // the ceiling itself
    assert(!ScaleGates.ivm100SteadyOk(3.51)) // forced: lost migration/fusion
    assert(!ScaleGates.ivm100SteadyOk(-1.0)) // no steady epochs ran
  }

  test("novelty steady-epoch gate holds the measured bar and trips past it") {
    assert(ScaleGates.noveltySteadyOk(4.84)) // r15 measured (SCALE_r15)
    assert(ScaleGates.noveltySteadyOk(7.0)) // the ceiling itself
    assert(!ScaleGates.noveltySteadyOk(7.01)) // forced: lost O(touched) path
    assert(!ScaleGates.noveltySteadyOk(0.0)) // steady epochs never ran
  }

  test("pagerank post-derivation gate holds the won bar and trips past it") {
    assert(ScaleGates.pagerankOk(Some(10.06))) // r13 measured
    assert(ScaleGates.pagerankOk(Some(15.0)))
    assert(!ScaleGates.pagerankOk(Some(15.01))) // forced failure
    assert(!ScaleGates.pagerankOk(Some(0.0))) // op never ran
    assert(!ScaleGates.pagerankOk(None)) // op missing from the capture
  }

  test("dup-spans probe-confinement pin holds at 52/256 and trips past it") {
    assert(ScaleGates.dupSpansProbeOk(52)) // the r13 pin, exact
    assert(ScaleGates.dupSpansProbeOk(1))
    assert(!ScaleGates.dupSpansProbeOk(53)) // forced failure: lost pruning
    assert(!ScaleGates.dupSpansProbeOk(0)) // probe never ran
  }

  test("ivm ripple-epoch gate holds the measured bars and trips past " +
      "the ceiling") {
    assert(ScaleGates.ivmRippleOk(3.35)) // 300x measured
    assert(ScaleGates.ivmRippleOk(8.0))
    assert(!ScaleGates.ivmRippleOk(8.01)) // forced: lost bucket pruning
    assert(!ScaleGates.ivmRippleOk(0.0)) // ripple epochs never ran
    assert(!ScaleGates.ivmRippleOk(-1.0))
  }

  test("migration-window old-gen gate holds the 100x reading and trips " +
      "past the O(state/waves) ceiling") {
    assert(ScaleGates.migrationWindowOk(3774L)) // 100x 4-wave window
    assert(ScaleGates.migrationWindowOk(12288L))
    assert(!ScaleGates.migrationWindowOk(12289L)) // forced: O(state) term
    assert(!ScaleGates.migrationWindowOk(0L)) // window never measured
  }

  test("bench regression gate vs pinned baseline: offenders only, " +
      "threshold exact, unshared and degenerate baselines ignored") {
    val base = Map("a" -> 1.0, "b" -> 2.0, "c" -> 0.5, "zero" -> 0.0)
    // within threshold: +25.0% exactly is NOT a regression
    assert(ScaleGates.benchRegressions(
      Map("a" -> 1.25, "b" -> 2.0, "c" -> 0.4), base).isEmpty)
    // forced failure: one query over, reported with its percent
    val r = ScaleGates.benchRegressions(
      Map("a" -> 1.26, "b" -> 2.1, "c" -> 0.4), base)
    assert(r.keySet == Set("a"), r.toString)
    assert(r("a") == 26.0, r.toString)
    // queries absent from the baseline (new this round) and degenerate
    // zero baselines never fire the gate
    assert(ScaleGates.benchRegressions(
      Map("new_query" -> 99.0, "zero" -> 99.0), base).isEmpty)
    // multiple offenders all reported
    assert(ScaleGates.benchRegressions(
      Map("a" -> 2.0, "b" -> 4.0), base).keySet == Set("a", "b"))
  }
}
