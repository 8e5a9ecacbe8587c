package graft.plans

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** Eager `localCheckpoint(true)`: the store-backed queries checkpoint
  * their output so persisted inputs can release (the q98 convention).
  * [[graft.Profile]] records the pre-checkpoint plan of each such action,
  * with the query line that called it as its call site. */
object Eager {
  def ckpt(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** [[ckpt]] that also returns the frame's row count, observed on the
    * checkpoint's own job, so no second `count()` job re-runs the plan.
    * The metric reaches the driver after the job ends; it is awaited for
    * at most 30 s and its absence throws rather than run a fallback job. */
  def ckptCounted(df: DataFrame): (DataFrame, Long) = {
    val obs = Observation()
    val out = ckpt(df.observe(obs, count(lit(1)).as("rows")))
    val rows =
      try Await.result(obs.future, 30.seconds).getAs[Long]("rows")
      catch {
        case e: java.util.concurrent.TimeoutException =>
          throw new IllegalStateException(
            "row count not observed 30 s after the checkpoint", e)
      }
    (out, rows)
  }
}
