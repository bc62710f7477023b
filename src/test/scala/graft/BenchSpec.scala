package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's N/4N crawl levels never exceed the cores the box has. */
class BenchSpec extends AnyFunSuite {

  test("core levels: N=2/4N=8 on 8+ cores, clamped to the available cores below that") {
    assert(Bench.coreLevels(32) === ((2, 8, false)))
    assert(Bench.coreLevels(8) === ((2, 8, false)))
    assert(Bench.coreLevels(4) === ((1, 4, true)))
    assert(Bench.coreLevels(6) === ((1, 6, true)))
    assert(Bench.coreLevels(1) === ((1, 1, true)))
  }
}
