package graft.plans

import org.apache.spark.sql.DataFrame

/** Eager `localCheckpoint(true)`: the store-backed queries checkpoint
  * their output so persisted inputs can release (the q98 convention).
  * [[graft.Profile]] records the pre-checkpoint plan of each such action,
  * with the query line that called it as its call site. */
object Eager {
  def ckpt(df: DataFrame): DataFrame = df.localCheckpoint(true)
}
