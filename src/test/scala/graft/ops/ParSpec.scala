package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

/** Par's failure contract: every task has finished before the caller
  * sees a failure, and the failure rethrown is the earliest in time. */
class ParSpec extends AnyFunSuite {

  test("all waits for a slow sibling to finish writing before rethrowing") {
    val written = new ConcurrentLinkedQueue[Int]
    val started = new CountDownLatch(1)
    // the failing task is submitted first: awaiting in submission order
    // alone would unwind while the sibling still writes
    val err = intercept[IllegalStateException] {
      Par.all(
        () => { started.await(); throw new IllegalStateException("fast failure") },
        () => { started.countDown(); (1 to 5).foreach { i => Thread.sleep(40); written.add(i) } })
    }
    assert(err.getMessage == "fast failure")
    assert(written.size == 5, s"sibling still writing after all threw: $written")
  }

  test("all and join2 rethrow the failure that happened first in time") {
    val late = () => { Thread.sleep(300); throw new IllegalStateException("late") }
    val early = () => throw new IllegalArgumentException("early")
    // the late failure is submitted first: submission order must not win
    assert(intercept[IllegalArgumentException](Par.all(late, early)).getMessage == "early")
    assert(intercept[IllegalArgumentException](
      Par.join2[Int, Int](late(), early())).getMessage == "early")
    assert(Par.join2(1 + 1, "b") == ((2, "b")))
  }
}
