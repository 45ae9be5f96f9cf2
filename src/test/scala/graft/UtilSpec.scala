package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

class UtilSpec extends AnyFunSuite {

  test("inParallel: every thunk runs; the first failure carries the others as suppressed") {
    val ran = new AtomicInteger
    val e = intercept[RuntimeException] {
      util.inParallel(Seq(
        () => throw new RuntimeException("a"),
        () => { ran.incrementAndGet(); () },
        () => throw new RuntimeException("b")))
    }
    assert(ran.get === 1)
    assert(e.getSuppressed.length === 1)
    assert((e +: e.getSuppressed.toSeq).map(_.getMessage).sorted === Seq("a", "b"))
  }
}
