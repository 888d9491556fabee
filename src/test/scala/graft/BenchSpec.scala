package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  private def run(total: Double, phase: Double) =
    Seq("s" -> total, "s.merge_write" -> phase)

  test("stream repeats: three survivors report the median run with its own phases") {
    val got = Bench.medianOfRepeats(Seq(run(9, 3), run(10, 5), run(14, 1))).toMap
    assert(got("s") === 10.0 && got("s.merge_write") === 5.0)
    assert(got("s.spread") === 0.5)
    assert(!got.contains("s.failed_repeats"))
  }

  test("stream repeats: a failed repeat is counted, and two survivors report their mean") {
    val got = Bench.medianOfRepeats(Seq(run(8, 2), Seq("s" -> -1.0), run(12, 4))).toMap
    assert(got("s") === 10.0 && got("s.merge_write") === 3.0)
    assert(got("s.spread") === 0.4)
    assert(got("s.failed_repeats") === 1.0)
    val one = Bench.medianOfRepeats(Seq(Seq("s" -> -1.0), run(7, 1), Seq("s" -> -1.0))).toMap
    assert(one("s") === 7.0 && one("s.failed_repeats") === 2.0)
    val none = Bench.medianOfRepeats(Seq.fill(3)(Seq("s" -> -1.0))).toMap
    assert(none("s") === -1.0 && none("s.failed_repeats") === 3.0)
  }
}
