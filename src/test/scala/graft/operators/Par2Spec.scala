package graft.operators

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

/** [[Materialize.par2]]'s failure path: the background chain never
  * outlives the call, and its error is never lost.
  */
class Par2Spec extends AnyFunSuite {

  test("a failing foreground chain still waits for the background chain") {
    val started = new CountDownLatch(1)
    val finished = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Materialize.par2(
        { started.await(); throw new IllegalStateException("foreground") },
        { started.countDown(); Thread.sleep(300); finished.set(true); 1 })
    }
    assert(e.getMessage == "foreground")
    assert(finished.get, "par2 returned while the background chain was still running")
  }

  test("when both chains fail, the background error is attached as suppressed") {
    val background = new RuntimeException("background")
    val e = intercept[IllegalStateException] {
      Materialize.par2(throw new IllegalStateException("foreground"), throw background)
    }
    assert(e.getSuppressed.toSeq == Seq(background))
  }

  test("a background-only failure propagates") {
    val e = intercept[RuntimeException](Materialize.par2(1, throw new RuntimeException("background")))
    assert(e.getMessage == "background")
  }
}
