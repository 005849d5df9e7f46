package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("a query that throws is a failed key, never a timed cell") {
    val ran = scala.collection.mutable.ArrayBuffer[String]()
    val pass = Bench.timedPass(Seq("q02_b", "q01_a", "q03_c")) { name =>
      ran += name
      if (name == "q02_b") throw new IllegalStateException("boom")
    }
    // every query runs, in name order, whatever failed before it
    assert(ran === Seq("q01_a", "q02_b", "q03_c"))
    assert(pass.seconds.map(_._1) === Seq("q01_a", "q03_c"))
    assert(pass.seconds.forall(_._2 >= 0.0))
    assert(pass.failed === Seq("q02_b"))
  }
}
