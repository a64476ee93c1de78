package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.orchestration.Par

class ParSpec extends AnyFunSuite {

  test("eval settles every task, then rethrows the first failure with the " +
    "later ones suppressed") {
    val survived = new java.util.concurrent.atomic.AtomicBoolean(false)
    val err = intercept[IllegalArgumentException] {
      Par.eval(Seq(
        () => throw new IllegalArgumentException("first"),
        () => { Thread.sleep(200); survived.set(true); 1 },
        () => throw new IllegalStateException("second")))
    }
    assert(err.getMessage == "first")
    val suppressed = err.getSuppressed.toSeq
    assert(suppressed.size == 1, suppressed.toString)
    assert(suppressed.head.isInstanceOf[IllegalStateException])
    assert(suppressed.head.getMessage == "second")
    assert(survived.get, "the surviving task was not awaited")
  }
}
