package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench` never times a thrown query as a result. */
class BenchSpec extends AnyFunSuite {

  test("a query that throws is reported as failed and not timed or summed") {
    var cleanups = 0
    val (times, failed) = Bench.timePass(Seq(
      "fast" -> (() => ()),
      "throws" -> (() => throw new IllegalStateException("boom")),
      "slow" -> (() => Thread.sleep(20))),
      () => cleanups += 1)
    assert(failed === Seq("throws"))
    assert(times.keySet === Set("fast", "slow"))
    assert(times("slow") >= 0.02)
    assert(times.values.sum === times("fast") + times("slow"))
    assert(cleanups === 3, "the per-query cleanup runs after a throw too")
  }
}
