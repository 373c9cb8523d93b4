package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench gate's per-key verdict rule ([[Bench.verdict]]) and its
  * flag checks ([[Bench.parseArgs]]). */
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

  /** The message `Bench.parseArgs(args)` rejects `args` with. */
  private def rejected(args: String*): String =
    intercept[IllegalArgumentException](Bench.parseArgs(args.toArray))
      .getMessage

  test("flags: an unknown flag or key fails naming the nearest one") {
    assert(rejected("--onyl", "x").contains("did you mean --only?"))
    assert(rejected("--only", "q01_pricing_sumary")
      .contains("did you mean q01_pricing_summary?"))
    assert(rejected("--isolate", "q01_pricing_summary,q6")
      .contains("unknown query key 'q6'"))
    assert(rejected("--stages", "yes").contains("--stages expects a bool"))
    // Verify's optional key list goes through the same selection
    assert(intercept[IllegalArgumentException](
      Bench.select(Some(Seq("ann_knn_joins")))).getMessage
      .contains("did you mean ann_knn_join?"))
  }

  test("flags: --only selects exactly its keys, name-sorted") {
    val (o, selected, isolate) = Bench.parseArgs(Array(
      "--only", "q02_filter_project,q01_pricing_summary",
      "--stages", "true"))
    assert(selected.map(_._1) ===
      Seq("q01_pricing_summary", "q02_filter_project"))
    assert(o.bool("stages") && o.get("plans").isEmpty && isolate.isEmpty)
    assert(Bench.parseArgs(Array.empty)._2.length ===
      SparkEntry.queries.size)
  }
}
