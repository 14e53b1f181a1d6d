package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's failure accounting: a query that throws is a failure, never a
  * (fast) timing, and stays out of the total.
  */
class BenchSpec extends AnyFunSuite {

  test("an attempt that throws records its failure, not its elapsed time") {
    assert(Bench.attempt(()).exists(_ >= 0.0))
    val failed = Bench.attempt(throw new IllegalStateException("boom"))
    assert(failed == Left("java.lang.IllegalStateException: boom"))
  }

  test("a query with any failed attempt is named as failed and gets no time") {
    val (scored, failed) = Bench.settle(Seq(
      "q1" -> Seq(Right(2.0), Right(1.5)),
      "q2" -> Seq(Left("x"), Right(0.1)),
      "q3" -> Seq(Right(3.0), Right(2.8), Right(2.6)),
      "q0" -> Seq(Right(0.2), Left("y"))))
    assert(scored == Seq("q1" -> 1.5, "q3" -> 2.6))
    assert(failed == Seq("q0", "q2"))
    assert(scored.map(_._2).sum == 4.1)
  }
}
