package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench gate's per-key verdict rule ([[Bench.verdict]]). */
class BenchSpec extends AnyFunSuite {
  private val ref = 2.0                       // band = 3.15 s
  private val cleanHost = (_: Double, _: Double) => true
  private val busyHost = (_: Double, _: Double) => false

  test("inside the band is ok, whatever the host") {
    assert(Bench.band(ref) === 3.15)
    assert(Bench.verdict(ref, Seq(3.1, 5.0), None, runClean = false,
      busyHost) === "ok")
  }

  test("contended needs a clean isolated read inside the band") {
    assert(Bench.verdict(ref, Seq(4.0, 4.1), Some((2.1, 1.0, 0.1)),
      runClean = false, cleanHost) === "contended")
    // inside the band, but its own stamp shows a busy host
    assert(Bench.verdict(ref, Seq(4.0, 4.1), Some((2.1, 1.0, 9.0)),
      runClean = false, busyHost) === "unresolved")
  }

  test("an isolated read above the band is never contended") {
    val iso = Some((3.5, 1.0, 0.1))
    // contended suite run, or dispersed passes: unresolved
    assert(Bench.verdict(ref, Seq(4.0, 4.1), iso, runClean = false,
      cleanHost) === "unresolved")
    assert(Bench.verdict(ref, Seq(4.0, 6.0), iso, runClean = true,
      cleanHost) === "unresolved")
    // clean suite run with tight passes: regressed
    assert(Bench.verdict(ref, Seq(4.0, 4.1), iso, runClean = true,
      cleanHost) === "regressed")
  }

  test("no isolated read: regressed on clean evidence, else unresolved") {
    assert(Bench.verdict(ref, Seq(4.0, 4.1), None, runClean = true,
      cleanHost) === "regressed")
    assert(Bench.verdict(ref, Seq(4.0, 4.1), None, runClean = false,
      cleanHost) === "unresolved")
  }
}
