package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** [[Concurrent.both]]: a failed leg must not leave the other detached. */
class ConcurrentSpec extends AnyFunSuite {

  test("both: a failing first leg surfaces only after the second leg finishes") {
    val release = new CountDownLatch(1)
    val secondDone = new AtomicBoolean(false)
    val call = Future(Concurrent.both(
      throw new IllegalStateException("first leg"),
      { release.await(); secondDone.set(true) }))(ExecutionContext.global)
    Thread.sleep(300)
    assert(!call.isCompleted,
      "the first leg's failure surfaced while the second leg still ran")
    release.countDown()
    val err = intercept[IllegalStateException](Await.result(call, 30.seconds))
    assert(err.getMessage === "first leg")
    assert(secondDone.get)
  }

  test("both: returns both legs' values") {
    assert(Concurrent.both(21 * 2, "b") === ((42, "b")))
  }

  test("both: when both legs fail, the first is rethrown with the second suppressed") {
    val err = intercept[IllegalStateException](Concurrent.both(
      throw new IllegalStateException("first"),
      throw new IllegalArgumentException("second")))
    assert(err.getMessage === "first")
    assert(err.getSuppressed.map(_.getMessage).toSeq === Seq("second"))
  }
}
