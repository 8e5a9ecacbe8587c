package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query

/** Binned range join: match point rows to interval rows
  * (`start <= point < end`) within a key — the interval/range join from
  * the custom-operator ladder, built as a composition.
  *
  * Spark plans a raw inequality join as BroadcastNestedLoopJoin (every
  * point against every interval per key) — a scale-killer. The binned
  * formulation turns it into an EQUI-join: intervals explode into the
  * fixed-width time bins they cover, points compute their single bin, the
  * join key becomes (key, bin), and the residual `start <= t < end`
  * filter runs post-join. Cost: interval replication × bins-covered
  * (bounded by interval length / bin width) instead of |points|×|intervals|
  * per key; the shuffle is an ordinary hash partition on (key, bin).
  */
object RangeJoin {

  /** `right` must carry [startCol, endCol) half-open intervals in
    * MICROSECOND epoch longs; `binUs` is the bucket width (pick ≈ median
    * interval length: shorter → more replication, longer → more residual
    * filtering). */
  def pointInInterval(left: DataFrame, right: DataFrame, key: String,
                      pointCol: String, startCol: String, endCol: String,
                      binUs: Long): DataFrame = {
    // collision-proof working name (the Salting/AsOfJoin convention)
    val binC = graft.functions.Cols.fresh("_bin", left, right)
    // cast-long bin ids TRUNCATE toward zero rather than floor — safe:
    // truncation is still monotone non-decreasing in the timestamp, so a
    // point inside [start, end) always lands within the interval's
    // exploded bin span even for negative (pre-1970) epochs; bin 0 is
    // merely double-width there, costing a little extra residual
    // filtering, never recall
    val binnedLeft = left.withColumn(binC,
      col(pointCol).divide(binUs).cast("long"))
    val binnedRight = right
      // drop malformed/empty intervals: sequence(a, b) generates a
      // DESCENDING range when b < a, which would explode an end<=start
      // interval into spurious bins (the residual filter keeps results
      // correct, but the replication is unbounded garbage)
      .filter(col(endCol) > col(startCol))
      .withColumn(binC, explode(sequence(
        col(startCol).divide(binUs).cast("long"),
        // end is exclusive: an interval ending exactly on a bin edge does
        // not cover that bin
        ((col(endCol) - 1).divide(binUs)).cast("long"))))
    binnedLeft.join(binnedRight, Seq(key, binC))
      .filter(col(startCol) <= col(pointCol) && col(pointCol) < col(endCol))
      .drop(binC)
  }

  // ---------------------------------------------------------------- q40
  /** Each event matched to the order-validity interval containing it.
    * The orders table's dates (1995–2001) don't overlap the events stream
    * (Jan 2024), so interval starts are the order dates projected
    * deterministically into the event month (2024-01-01 + date µs mod
    * 30 days — identical arithmetic on both engines); per-user intervals
    * are [start, next start) via lead(), the final one capped at +7 days.
    * Intervals partition time within a user, so each event lands in at
    * most one interval. */
  def q40EventsInOrderWindows(spark: SparkSession, dir: String): DataFrame = {
    val binUs = 24L * 3600 * 1000000 // 1-day bins
    val capUs = 7L * 24 * 3600 * 1000000
    val month0 = 1704067200000000L // 2024-01-01T00:00:00Z in µs
    val monthUs = 30L * 24 * 3600 * 1000000
    val events = graft.queries.Kpis.eventsTable(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t_us"))
    val wNext = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
    val wDedup = Window.partitionBy(col("user_id"), col("start_us"))
      .orderBy(col("o_orderkey").desc)
    val intervals = graft.queries.Kpis.table(spark, dir, "orders")
      .select((col("o_custkey") % 15).as("user_id"),
        // o_orderdate is TIMESTAMP_NTZ; under the pinned-UTC session the
        // ltz cast is instant-preserving and unix_micros-compatible
        (lit(month0) +
          unix_micros(col("o_orderdate").cast("timestamp")) % monthUs)
          .as("start_us"),
        col("o_orderkey"))
      .withColumn("_rn", row_number().over(wDedup))
      .filter(col("_rn") === 1).drop("_rn")
      .withColumn("end_us",
        coalesce(lead(col("start_us"), 1).over(wNext),
          col("start_us") + capUs))
    pointInInterval(events, intervals, "user_id", "t_us", "start_us", "end_us",
        binUs)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_matched_events"),
        countDistinct(col("o_orderkey")).as("n_active_orders"))
      .orderBy("user_id")
  }

  val q40Sql: String =
    """WITH o0 AS (
      |  SELECT o_custkey % 15 AS user_id,
      |         1704067200000000 + epoch_us(o_orderdate) % 2592000000000 AS start_us,
      |         o_orderkey,
      |         row_number() OVER (
      |           PARTITION BY o_custkey % 15,
      |             1704067200000000 + epoch_us(o_orderdate) % 2592000000000
      |           ORDER BY o_orderkey DESC) AS rn
      |  FROM orders),
      |iv AS (
      |  SELECT user_id, start_us, o_orderkey,
      |    COALESCE(lead(start_us) OVER (PARTITION BY user_id ORDER BY start_us),
      |             start_us + 604800000000) AS end_us
      |  FROM o0 WHERE rn = 1),
      |m AS (
      |  SELECT e.user_id, e.event_id, iv.o_orderkey
      |  FROM events e JOIN iv
      |    ON e.user_id = iv.user_id
      |   AND iv.start_us <= epoch_us(e.ts) AND epoch_us(e.ts) < iv.end_us)
      |SELECT user_id, COUNT(*) AS n_matched_events,
      |  COUNT(DISTINCT o_orderkey) AS n_active_orders
      |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q40_events_in_order_windows", q40EventsInOrderWindows _, q40Sql))
}
