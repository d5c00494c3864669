package graft

import org.scalatest.funsuite.AnyFunSuite

/** The calibration wait cap is read from `GRAFT_BENCH_CALIB_WAITS`; a
  * malformed value must not kill the bench before it measures anything. */
class BenchCalibWaitsSpec extends AnyFunSuite {
  test("GRAFT_BENCH_CALIB_WAITS: integers are taken, anything else falls back to 12") {
    assert(Bench.calibWaitCap(None) === 12)
    assert(Bench.calibWaitCap(Some("60")) === 60)
    assert(Bench.calibWaitCap(Some(" 3 ")) === 3)
    assert(Bench.calibWaitCap(Some("60s")) === 12)
    assert(Bench.calibWaitCap(Some("")) === 12)
  }
}
