package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query

/** Reshaping and feature-engineering analytics: quantile binning, exact
  * correlation, pivoting, and period-over-period growth — the remaining
  * classics a warehouse user expects from an engine.
  */
object ReshapeQueries {

  // ---------------------------------------------------------------- q71
  /** Quartile binning (quantile discretizer): ntile(4) per event type
    * under a TOTAL order (value, then event_id — rank functions are only
    * deterministic under total orders), summarized per bin. The window
    * shuffles once on the type key; at scale the same binning runs from
    * approx-percentile cut points instead (no per-row rank), with this
    * exact form as the audit query. */
  def q71QuartileBins(spark: SparkSession, dir: String): DataFrame = {
    // rank over the renamed frame (v is the lossless 4dp image of value,
    // so the order is the same); event_id makes it total
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("v"), col("event_id"))
    Kpis.eventsTable(spark, dir)
      .select(col("event_type"), col("event_id"),
        col("value").cast("decimal(18,4)").as("v"))
      .withColumn("bin", ntile(4).over(w))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("v")).cast("double").as("lo"),
        max(col("v")).cast("double").as("hi"),
        (sum(col("v")).cast("double") / count(lit(1))).as("mean"))
      .orderBy("event_type", "bin")
  }

  val q71Sql: String =
    """WITH binned AS (
      |  SELECT event_type, CAST(value AS DECIMAL(18,4)) AS v,
      |    ntile(4) OVER (PARTITION BY event_type
      |                   ORDER BY CAST(value AS DECIMAL(18,4)), event_id) AS bin
      |  FROM events)
      |SELECT event_type, CAST(bin AS INTEGER) AS bin, COUNT(*) AS n,
      |  CAST(MIN(v) AS DOUBLE) AS lo, CAST(MAX(v) AS DOUBLE) AS hi,
      |  CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean
      |FROM binned GROUP BY event_type, bin
      |ORDER BY event_type, bin""".stripMargin

  // ---------------------------------------------------------------- q72
  /** Pearson correlation of quantity vs extendedprice per return flag.
    * The SUMS are exact decimal arithmetic (no float summation-order
    * jitter — the map-side-combinable, replayable property the built-in
    * double-accumulating `corr` lacks); the closed-form composite is then
    * IDENTICAL double ops on those exact sums in both engines (each
    * decimal→double cast is correctly rounded, every subsequent op is the
    * same IEEE instruction in the same association), so the result is
    * still bit-exact cross-engine. Decimal products of the sums would
    * exceed 38 digits — the documented reason the composite drops to
    * doubles after the exact aggregation.
    *
    * Declared widths differ across engines BY NECESSITY (values are
    * identical): Spark casts inputs to (18,4) so x*y stays (37,8) with no
    * precision-loss rescale; the oracle casts to (19,4) because DuckDB
    * multiplies in the operand's physical type and DECIMAL(18)=int64
    * overflows on ~1e9-unit inputs — 19 digits forces int128. See the
    * matching comment in the SQL. */
  def q72ExactCorr(spark: SparkSession, dir: String): DataFrame =
    Kpis.table(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        col("l_quantity").cast("decimal(18,4)").as("x"),
        col("l_extendedprice").cast("decimal(18,4)").as("y"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("double").as("n_d"),
        count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"),
        sum(col("x") * col("y")).cast("double").as("sxy"))
      .select(col("l_returnflag"), col("n"),
        ((col("n_d") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n_d") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n_d") * col("syy") - col("sy") * col("sy"))))
          .as("corr_qty_price"))
      .orderBy("l_returnflag")

  val q72Sql: String =
    """WITH s AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(COUNT(*) AS DOUBLE) AS n_d,
      |    -- decimal→varchar→double: the varchar carries the exact digits
      |    -- and the parse is correctly rounded, matching Spark's
      |    -- BigDecimal.doubleValue; a direct decimal→double cast divides
      |    -- two already-rounded doubles and can be off by 1 ulp for
      |    -- >2^53-unit sums
      |    CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
      |    CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
      |    CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
      |    CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy,
      |    CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy
      |  FROM (SELECT l_returnflag,
      |          -- 19,4 here vs Spark's 18,4 is DELIBERATE, not drift:
      |          -- DuckDB multiplies in the operand's PHYSICAL type, and
      |          -- DECIMAL(18) is int64 — x*x overflows int64 at ~1e9
      |          -- units. 19 digits forces int128 storage so the product
      |          -- ((38,8), at DuckDB's cap) is exact. Spark stays 18,4
      |          -- because (19,4)² would be (39,8) > 38 and trigger
      |          -- precision-loss rescaling to scale 7. Same VALUES, both
      |          -- engines exact; only the declared widths differ.
      |          CAST(l_quantity AS DECIMAL(19,4)) AS x,
      |          CAST(l_extendedprice AS DECIMAL(19,4)) AS y
      |        FROM lineitem)
      |  GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  (n_d * sxy - sx * sy)
      |    / (sqrt(n_d * sxx - sx * sx) * sqrt(n_d * syy - sy * sy))
      |    AS corr_qty_price
      |FROM s ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q73
  /** Daily event matrix — the long→wide pivot, with the value columns
    * fixed at plan time (explicit pivot values; discovery-at-runtime
    * pivots collect a distinct driver-side — an anti-pattern the API
    * form avoids). One hash agg; each cell is a conditional count. */
  def q73DailyPivot(spark: SparkSession, dir: String): DataFrame =
    Kpis.eventsTable(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("day")

  val q73Sql: String =
    """SELECT CAST(ts AS DATE) AS day,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q91
  /** Wide→long unpivot (melt) — the inverse reshape of q73, composed ON
    * q73's pivot so one plan round-trips both directions: the daily
    * event matrix melts back to (day, event_type, n) rows, keeping
    * zero-count cells (the pivot's fill) — which is exactly how the two
    * reshapes differ from a plain groupBy: the long form is DENSE over
    * days × the declared type columns. Unpivot is a pure-map Expand
    * (5 output rows per input row, no shuffle of its own); the only
    * exchanges are q73's. */
  def q91UnpivotDaily(spark: SparkSession, dir: String): DataFrame =
    q73DailyPivot(spark, dir)
      .unpivot(
        ids = Array(col("day")),
        values = Array(col("click"), col("error"), col("purchase"),
          col("signup"), col("view")),
        variableColumnName = "event_type",
        valueColumnName = "n")
      .orderBy("day", "event_type")

  val q91Sql: String =
    """WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
      |types AS (
      |  SELECT unnest(['click', 'error', 'purchase', 'signup', 'view'])
      |    AS event_type),
      |counts AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT d.day, t.event_type,
      |  COALESCE(c.n, 0) AS n
      |FROM days d CROSS JOIN types t
      |LEFT JOIN counts c ON c.day = d.day AND c.event_type = t.event_type
      |ORDER BY d.day, t.event_type""".stripMargin

  // ---------------------------------------------------------------- q74
  /** Day-over-day revenue growth: lag window over the (bounded, one row
    * per day) daily aggregate — the single-partition window is justified
    * exactly as q4's: its input is already reduced to day grain. Growth
    * is a division of exact decimal-sum doubles; day-1 rows carry NULL
    * growth (no prior day), mirrored by both engines' lag semantics. */
  def q74DodGrowth(spark: SparkSession, dir: String): DataFrame = {
    val daily = Kpis.table(spark, dir, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).cast("double").as("revenue"))
    val w = Window.orderBy(col("day"))
    daily
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .withColumn("dod_growth",
        (col("revenue") - col("prev_revenue")) / col("prev_revenue"))
      .orderBy("day")
  }

  val q74Sql: String =
    """WITH daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS day,
      |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
      |             AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |  FROM lineitem GROUP BY 1)
      |SELECT day, revenue,
      |  lag(revenue) OVER (ORDER BY day) AS prev_revenue,
      |  (revenue - lag(revenue) OVER (ORDER BY day))
      |    / lag(revenue) OVER (ORDER BY day) AS dod_growth
      |FROM daily ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q89
  /** Per-customer running order balance — the PARTITIONED window shape
    * (unlike q4/q74, whose inputs are pre-reduced to day grain and whose
    * single-partition windows are justified by that): every customer's
    * orders in date order with a cumulative total. The window partitions
    * by custkey, so the sort is per-customer within hash partitions —
    * fully distributed, no global sort until the (bounded) output
    * ordering.
    *
    * Exactness: the running sum accumulates DECIMAL(18,4) (associative,
    * so the frame-by-frame accumulation cannot drift from DuckDB's) and
    * casts to double per output row; the frame order is TOTAL
    * ((orderdate, orderkey)) so every prefix is identical cross-engine.
    * Output is capped to customers with custkey < 50 (49 keys) to keep
    * the verify dump bounded — the cap is a pushed-down key filter, not
    * a limit after the window. */
  def q89RunningBalance(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    // explicit ROWS frame, spelled like the oracle (Spark's default for
    // an ordered window is RANGE, which only coincides with ROWS because
    // the order is total — say what we mean instead of relying on that)
    val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Kpis.table(spark, dir, "orders")
      .filter(col("o_custkey") < 50)
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("o_orderdate"),
        col("o_totalprice").cast("decimal(18,4)").as("p"))
      .withColumn("running_total", sum(col("p")).over(frame).cast("double"))
      .withColumn("order_seq", row_number().over(w))
      .select(col("o_custkey"), col("order_seq"), col("o_orderkey"),
        col("o_orderdate"), col("p").cast("double").as("o_totalprice"),
        col("running_total"))
      .orderBy("o_custkey", "order_seq")
  }

  val q89Sql: String =
    """SELECT o_custkey,
      |  CAST(row_number() OVER w AS INTEGER) AS order_seq,
      |  o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS o_totalprice,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE)
      |    AS running_total
      |FROM orders
      |WHERE o_custkey < 50
      |WINDOW w AS (PARTITION BY o_custkey
      |             ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, order_seq""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q71_quartile_bins", q71QuartileBins _, q71Sql),
    Query("q72_exact_corr", q72ExactCorr _, q72Sql),
    Query("q73_daily_pivot", q73DailyPivot _, q73Sql),
    Query("q74_dod_growth", q74DodGrowth _, q74Sql),
    Query("q89_running_balance", q89RunningBalance _, q89Sql),
    Query("q91_unpivot_daily", q91UnpivotDaily _, q91Sql))
}
