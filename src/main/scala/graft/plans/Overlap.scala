package graft.plans

import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors, TimeUnit}

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Run two mutually independent driver-blocking Spark jobs concurrently
  * (guide §2.6: actions are only sequential because the driver calls
  * them sequentially — each job's task tail and driver-side commit gaps
  * otherwise idle the cores the other job wants). `fb` runs on a single
  * worker thread, `fa` on the caller's thread; results are identical to
  * the sequential call because the jobs share no mutable state — callers
  * must only pair jobs that neither read nor write each other's tables.
  *
  * Failure path: the ORIGINAL exception is rethrown —
  * `ExecutionException` is unwrapped so the sequential failure contract
  * is preserved (r17 ADVICE). When `fa` throws, `fb` is stopped before
  * the exception leaves: its Spark jobs, which carry a job tag unique to
  * this call, are cancelled until its thread ends (a cancelled job fails
  * the action `fb` blocks on, and its tasks can no longer commit output),
  * and work that runs no Spark job is interrupted after a grace period.
  * So a caller that retries never races a write of the failed call. */
object Overlap {
  def two[A, B](fa: => A, fb: => B): (A, B) = {
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext).filterNot(_.isStopped)
    val tag = s"graft-overlap-${java.util.UUID.randomUUID}"
    val pool = Executors.newFixedThreadPool(1)
    try {
      val f = pool.submit(new Callable[B] {
        def call(): B = { sc.foreach(_.addJobTag(tag)); fb }
      })
      val a =
        try fa
        catch { case t: Throwable => f.cancel(false); stop(pool, sc, tag); throw t }
      val b =
        try f.get()
        catch { case e: ExecutionException => throw e.getCause }
      (a, b)
    } finally {
      pool.shutdownNow()
      ()
    }
  }

  /** Polls of 50 ms before the worker thread is interrupted. */
  private val GraceRounds = 10

  /** Cancel the worker's tagged jobs until its thread has ended (a `fb`
    * that had not started yet never starts: its future is cancelled). */
  private def stop(pool: ExecutorService, sc: Option[SparkContext],
                   tag: String): Unit = {
    pool.shutdown()
    var round = 0
    do {
      sc.foreach(_.cancelJobsWithTag(tag))
      if (round == GraceRounds) pool.shutdownNow()
      round += 1
    } while (!pool.awaitTermination(50, TimeUnit.MILLISECONDS))
  }
}
