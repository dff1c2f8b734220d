package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.scalatest.funsuite.AnyFunSuite

import graft.util.Par

/** `Par.overlap`: independent jobs on a small pool, failing with the
  * failed task's own exception type and leaving no sibling running. */
class ParSpec extends AnyFunSuite {

  test("Par.overlap runs every task and returns after the last finishes") {
    val done = new AtomicInteger(0)
    Par.overlap(2)((1 to 5).map(_ => () => { Thread.sleep(20); done.incrementAndGet(); () }))
    assert(done.get() == 5)
  }

  test("Par.overlap rethrows the failure's own type and interrupts the sibling") {
    val started = new CountDownLatch(1)
    val interrupted = new AtomicBoolean(false)
    val sibling = () =>
      try { started.countDown(); Thread.sleep(60000) }
      catch { case _: InterruptedException => interrupted.set(true) }
    val failing = () => { started.await(); throw new IllegalStateException("boom") }
    val e = intercept[IllegalStateException] {
      Par.overlap(2)(Seq(sibling, failing))
    }
    assert(e.getMessage == "boom")
    assert(interrupted.get(), "the blocked sibling must be interrupted")
  }
}
