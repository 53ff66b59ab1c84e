package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("a query that throws is timed as its error, never as a time") {
    val boom = new IllegalStateException("boom")
    assert(Bench.timed(throw boom) == Left(boom))
    assert(Bench.timed(Thread.sleep(20)).exists(_ >= 0.02))
  }
}
