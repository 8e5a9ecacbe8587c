package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.{JobExecutionStatus, TaskContext}
import org.apache.spark.sql.graft.BusDrain
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

  test("fa's exception reaches the caller only after fb's Spark job has ended") {
    val sc = SparkTestSession.spark.sparkContext
    val callerTags = sc.getJobTags()
    @volatile var tags = Set.empty[String]
    val started = new CountDownLatch(1)
    val boom = new IllegalStateException("fa failed")
    val e = intercept[IllegalStateException](Overlap.two(
      {
        assert(started.await(10, TimeUnit.SECONDS))
        val deadline = System.nanoTime() + 10000000000L
        while (tags.forall(sc.statusTracker.getJobIdsForTag(_).isEmpty) &&
            System.nanoTime() < deadline) Thread.sleep(20)
        throw boom
      },
      {
        tags = sc.getJobTags() -- callerTags
        started.countDown()
        sc.parallelize(Seq(1), 1).foreach(_ => OverlapSpec.runUntilKilled())
      }))
    assert(e eq boom)
    assert(tags.size == 1, "fb's jobs carry one tag of their own")
    try {
      // a job submitted now is scheduled after every event of fb's job,
      // so once its own events are delivered, so are fb's
      sc.parallelize(Seq(1), 1).count()
      BusDrain(sc)
      val ids = sc.statusTracker.getJobIdsForTag(tags.head)
      assert(ids.nonEmpty, "fb's job never started")
      assert(ids.forall(id => sc.statusTracker.getJobInfo(id)
        .forall(_.status != JobExecutionStatus.RUNNING)),
        "fb's job was still running when the exception reached the caller")
    } finally sc.cancelJobsWithTag(tags.head)
  }
}

object OverlapSpec {
  /** A task body that runs until its task is killed, 60 s at most. */
  def runUntilKilled(): Unit = {
    val ctx = TaskContext.get()
    val deadline = System.nanoTime() + 60000000000L
    while (!ctx.isInterrupted() && System.nanoTime() < deadline) Thread.sleep(20)
  }
}
