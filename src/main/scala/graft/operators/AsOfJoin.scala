package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query

/** As-of join: attach to each left row the most recent right row with
  * `rightTime <= leftTime` within the same key — the time-series join
  * Spark has no built-in for (the canonical example of the
  * custom-operator ladder's "compose existing ops if semantics allow"
  * tier).
  *
  * Implementation is the union+window formulation, NOT a range join:
  * tag both sides, union, then `last(right payload, ignoreNulls) OVER
  * (PARTITION BY key ORDER BY time, side ROWS UNBOUNDED PRECEDING)` —
  * right rows sort before left rows at equal timestamps, so an
  * equal-time right row IS visible to the left row (inclusive as-of,
  * matching DuckDB's `ASOF JOIN ... ON l.ts >= r.ts` oracle).
  *
  * Scale shape: ONE hash shuffle on the key + a per-key sort — the same
  * cost as any groupBy over the union. A naive range join
  * (`l.key = r.key AND r.ts <= l.ts` + max-per-group) explodes to every
  * (left, right-earlier) pair before pruning; this never materializes
  * more than left+right rows.
  */
object AsOfJoin {

  /** `right` must be deduplicated on (key, rightTime) beforehand if ties
    * are possible — within-tie choice would otherwise be nondeterministic
    * on any engine. Payload columns are the right columns to carry.
    *
    * The payload travels as ONE packed struct filled by a single
    * `last(_, ignoreNulls = true)`: filling each payload column with its
    * own `last` would backfill a NULL payload value from an OLDER right
    * row, mixing columns from different right rows and fabricating a value
    * where the true as-of match is NULL. The struct itself is non-null for
    * every right row (even when every field is NULL), so the window picks
    * exactly the most recent right row and its fields — NULLs included —
    * unpack together. */
  def joinAsOf(left: DataFrame, right: DataFrame,
               key: String, leftTime: String, rightTime: String,
               payload: Seq[String]): DataFrame = {
    // collision-proof working names: a caller frame already carrying
    // `_t`/`_side`/`_p` must not have its data replaced then dropped
    val (tC, sideC, pC) = (
      graft.functions.Cols.fresh("_t", left, right),
      graft.functions.Cols.fresh("_side", left, right),
      graft.functions.Cols.fresh("_p", left, right))
    val leftCols = left.columns.toSeq
    val rPacked = right
      .withColumn(tC, col(rightTime)).withColumn(sideC, lit(0))
      .withColumn(pC, struct(payload.map(col): _*))
    val pType = rPacked.schema(pC).dataType
    val l = left
      .withColumn(tC, col(leftTime)).withColumn(sideC, lit(1))
      .withColumn(pC, lit(null).cast(pType))
    val unionCols = leftCols ++ Seq(tC, sideC, pC)
    val r = leftCols.filterNot(c => c == key)
      .foldLeft(rPacked)((d, c) => d.withColumn(c, lit(null)))
    val unioned = l.select(unionCols.map(col): _*)
      .unionByName(r.select(unionCols.map(col): _*))
    val w = Window.partitionBy(col(key))
      .orderBy(col(tC), col(sideC))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = unioned
      .withColumn(pC, last(col(pC), ignoreNulls = true).over(w))
    val unpacked = payload.foldLeft(filled)((d, p) =>
      d.withColumn(p, col(pC).getField(p)))
    unpacked.filter(col(sideC) === 1).drop(tC, sideC, pC)
  }

  // ---------------------------------------------------------------- q39
  /** Each event matched to the user's most recent order at-or-before the
    * event time (order stream derived deterministically from `orders`;
    * right side deduped per (user, ts) with a max-orderkey tiebreak). */
  def q39EventsAsofOrders(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.queries.Kpis.eventsTable(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
    val wDedup = Window.partitionBy(col("user_id"), col("o_ts"))
      .orderBy(col("o_orderkey").desc)
    val orders = graft.queries.Kpis.table(spark, dir, "orders")
      .select((col("o_custkey") % 15).as("user_id"),
        col("o_orderdate").as("o_ts"), col("o_orderkey"),
        col("o_totalprice"))
      .withColumn("_rn", row_number().over(wDedup))
      .filter(col("_rn") === 1).drop("_rn")
    joinAsOf(events, orders, "user_id", "ts", "o_ts",
        payload = Seq("o_orderkey", "o_totalprice"))
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("event_time"),
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
      .orderBy("user_id", "event_id")
  }

  val q39Sql: String =
    """WITH r0 AS (
      |  SELECT o_custkey % 15 AS user_id, o_orderdate AS o_ts,
      |         o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey % 15, o_orderdate
      |                            ORDER BY o_orderkey DESC) AS rn
      |  FROM orders),
      |r AS (SELECT user_id, o_ts, o_orderkey, o_totalprice FROM r0 WHERE rn = 1)
      |SELECT e.user_id, e.event_id,
      |  strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS event_time,
      |  r.o_orderkey, r.o_totalprice
      |FROM events e ASOF LEFT JOIN r
      |  ON e.user_id = r.user_id AND e.ts >= r.o_ts
      |ORDER BY e.user_id, e.event_id""".stripMargin

  // --------------------------------------------------------------- q193
  /** As-of join FRESHNESS audit — q39 with a tolerance contract: every
    * event classified by the age of its as-of order match (fresh =
    * within 3 days, stale = older, unmatched = no order at-or-before),
    * rolled up per event type with the fresh share. Real enrichment
    * pipelines always carry this tolerance ("join the latest state, but
    * only if it isn't ancient"); the census is the data-quality number
    * that says how often the tolerance bites — and the unmatched band
    * is exactly the left-rows a plain as-of silently fills with
    * arbitrarily old state.
    *
    * Exactness: ages are exact microsecond BIGINT differences against a
    * literal threshold; the census is integers; the share is one double
    * division. Scale shape: q39's single union+window shuffle, then a
    * map-combinable census and a window over ≤|event types|·3 rows. */
  def q193AsofFreshness(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.queries.Kpis.eventsTable(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    val wDedup = Window.partitionBy(col("user_id"), col("o_ts"))
      .orderBy(col("o_orderkey").desc)
    val orders = graft.queries.Kpis.table(spark, dir, "orders")
      .select((col("o_custkey") % 15).as("user_id"),
        col("o_orderdate").as("o_ts"), col("o_orderkey"))
      .withColumn("_rn", row_number().over(wDedup))
      .filter(col("_rn") === 1).drop("_rn")
    val horizonUs = 3L * 86400L * 1000000L
    val classified = joinAsOf(events, orders, "user_id", "ts", "o_ts",
        payload = Seq("o_ts", "o_orderkey"))
      .select(col("event_type"),
        when(col("o_orderkey").isNull, lit("unmatched"))
          // o_orderdate parquet-loads as TIMESTAMP_NTZ; the UTC session
          // makes the cast to TIMESTAMP wall-clock-identical
          .when(unix_micros(col("ts")) -
            unix_micros(col("o_ts").cast("timestamp"))
            <= horizonUs, lit("fresh"))
          .otherwise(lit("stale")).as("match_class"))
    val census = classified.groupBy(col("event_type"), col("match_class"))
      .agg(count(lit(1)).as("n_events"))
    census
      .withColumn("share", col("n_events").cast("double") /
        sum(col("n_events")).over(Window.partitionBy(col("event_type")))
          .cast("double"))
      .orderBy("event_type", "match_class")
  }

  val q193Sql: String =
    """WITH r0 AS (
      |  SELECT o_custkey % 15 AS user_id, o_orderdate AS o_ts, o_orderkey,
      |         row_number() OVER (PARTITION BY o_custkey % 15, o_orderdate
      |                            ORDER BY o_orderkey DESC) AS rn
      |  FROM orders),
      |r AS (SELECT user_id, o_ts, o_orderkey FROM r0 WHERE rn = 1),
      |cls AS (
      |  SELECT e.event_type,
      |    CASE WHEN r.o_orderkey IS NULL THEN 'unmatched'
      |         WHEN epoch_us(e.ts) - epoch_us(r.o_ts) <= 259200000000
      |           THEN 'fresh'
      |         ELSE 'stale' END AS match_class
      |  FROM events e ASOF LEFT JOIN r
      |    ON e.user_id = r.user_id AND e.ts >= r.o_ts),
      |census AS (
      |  SELECT event_type, match_class, COUNT(*) AS n_events
      |  FROM cls GROUP BY 1, 2)
      |SELECT event_type, match_class, n_events,
      |  CAST(n_events AS DOUBLE) /
      |    CAST(SUM(n_events) OVER (PARTITION BY event_type) AS DOUBLE)
      |    AS share
      |FROM census ORDER BY event_type, match_class""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q39_events_asof_orders", q39EventsAsofOrders _, q39Sql),
    Query("q193_asof_freshness", q193AsofFreshness _, q193Sql))
}
