package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Overlap

/** `Overlap.two` keeps the sequential failure contract: the caller sees
  * the original exception, and a failing caller side leaves no work
  * running behind it. */
class OverlapSpec extends AnyFunSuite {
  test("fb's exception reaches the caller unwrapped") {
    val boom = new IllegalArgumentException("fb failed")
    val e = intercept[IllegalArgumentException](
      Overlap.two(1, (throw boom): Int))
    assert(e eq boom)
  }

  test("fa's exception interrupts the in-flight fb and ends its thread") {
    val started, interrupted = new CountDownLatch(1)
    @volatile var worker: Thread = null
    val boom = new IllegalStateException("fa failed")
    val e = intercept[IllegalStateException](Overlap.two(
      { assert(started.await(10, TimeUnit.SECONDS)); throw boom },
      {
        worker = Thread.currentThread()
        started.countDown()
        try Thread.sleep(60000)
        catch { case ie: InterruptedException =>
          interrupted.countDown(); throw ie }
      }))
    assert(e eq boom)
    assert(interrupted.await(10, TimeUnit.SECONDS), "fb was not interrupted")
    worker.join(10000)
    assert(!worker.isAlive, "the pool thread outlived the call")
  }
}
