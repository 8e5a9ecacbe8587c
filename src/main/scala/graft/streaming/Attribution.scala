package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.queries.Kpis

/** Click→purchase attribution — the canonical STREAM-STREAM join: match
  * each purchase to the same user's clicks in the preceding 30 minutes.
  * On streaming inputs both sides carry watermarks and the event-time
  * range condition bounds the join state (rows age out once the
  * watermark passes the interval — without the time bound a
  * stream-stream join buffers forever); on static frames the same code
  * is a plain range join, which is how the oracle replays it.
  *
  * Scale shape: equi-join on user_id (one shuffle per side) with the
  * time range as a post-join predicate inside each user partition —
  * state per user bounded by 30 minutes of arrivals.
  */
object Attribution {

  /** Pairs every purchase with the same user's clicks at most `window`
    * before it. Input frames need (user_id, ts, event_id[, value]).
    * Streaming callers must pass watermarked frames. */
  def attribute(clicks: DataFrame, purchases: DataFrame,
                window: String = "30 minutes"): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"),
      col("ts").as("c_ts"), col("event_id").as("click_id"))
    val p = purchases.select(col("user_id").as("p_user"),
      col("ts").as("p_ts"), col("event_id").as("purchase_id"),
      col("value").as("purchase_value"))
    c.join(p, expr(
      s"c_user = p_user AND p_ts > c_ts AND p_ts <= c_ts + interval $window"))
  }

  // ---------------------------------------------------------------- q75
  /** Batch attribution over the events table: every (click, purchase)
    * pair within the 30-minute window, with minutes-to-purchase. The
    * oracle replays the identical range join. */
  def q75Attribution(spark: SparkSession, dir: String): DataFrame = {
    // second-truncated event time: Spark reads the ns parquet at µs and
    // DuckDB at ns, so raw-ts window boundaries could disagree on sub-
    // second fractions; both engines floor to the same whole second
    val ev = Kpis.eventsTable(spark, dir)
      .withColumn("ts", timestamp_seconds(col("ts").cast("long")))
    val out = attribute(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"))
    out.select(
        col("c_user").as("user_id"), col("click_id"), col("purchase_id"),
        ((col("p_ts").cast("long") - col("c_ts").cast("long"))
          .cast("double") / 60.0).as("mins_to_purchase"),
        col("purchase_value"))
      .orderBy("user_id", "click_id", "purchase_id")
  }

  val q75Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, value,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS s
      |  FROM events)
      |SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  CAST(p.s - c.s AS DOUBLE) / 60.0 AS mins_to_purchase,
      |  p.value AS purchase_value
      |FROM ev c
      |JOIN ev p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.s > c.s AND p.s <= c.s + 1800
      |ORDER BY 1, 2, 3""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q75_attribution", q75Attribution _, q75Sql))
}
