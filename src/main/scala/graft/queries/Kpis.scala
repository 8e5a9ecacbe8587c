package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Query

/** KPI query half of the rebuild (SURVEY.md §2.5, reference README.md:140-146).
  *
  * The reference delegates all analytics to Postgres/Metabase; here each KPI is
  * a declarative Catalyst plan. Numeric-parity convention (SURVEY §7.4): money
  * aggregates go through exact decimal arithmetic — per-row cast to
  * DECIMAL(18,4) (exact, since prices/discounts are 2-decimal values), an
  * order-independent decimal SUM, and a final correctly-rounded cast to DOUBLE
  * so Spark and the DuckDB oracle emit bit-identical float64. Timestamp
  * outputs are formatted as strings (parquet/duckdb timestamp units differ);
  * date outputs stay date32.
  *
  * Scale notes (100 TB design): every query below is a pure declarative plan —
  * partial+final hash aggregation, and orderBy+limit lowered to
  * TakeOrderedAndProject for top-k (no global sort of the fact table).
  * Broadcast policy: forced broadcast() ONLY for constant-size dims
  * (nation=25, region=5 rows at every sf); sf-scaling tables
  * (customer/part/supplier) are left to AQE's size-based join choice so a
  * 100× scale-up flips them to shuffled-hash/SMJ instead of OOMing an
  * executor on a forced broadcast build side. Nothing collects to the driver.
  */
object Kpis {
  private val Money = DecimalType(18, 4)

  /** Exact order-independent sum of a ≤4dp numeric expression, as double. */
  def moneySum(c: Column): Column = sum(c.cast(Money)).cast(DoubleType)

  /** Exact mean: decimal sum cast to double, divided by the group count. */
  def moneyAvg(c: Column): Column =
    sum(c.cast(Money)).cast(DoubleType) / count(lit(1))

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The events table's `ts` column has shipped in two physical forms across
    * testdata generations: TIMESTAMP(NANOS) parquet (Spark 4 rejects it
    * outright; with spark.sql.legacy.parquet.nanosAsLong=true it surfaces as
    * LongType nanos) and plain TIMESTAMP(MICROS) without UTC adjustment
    * (surfaces as TIMESTAMP_NTZ). Normalize both to session-zoned
    * TimestampType so every downstream query sees one type: nanos → integer
    * `div 1000` (exact at ~1.7e18 nano epochs; float division would round
    * above 2^53 and shift some micros by 1), NTZ → cast, which under the
    * UTC session timezone is the same wall-clock instant DuckDB reads. */
  def eventsTable(spark: SparkSession, dir: String): DataFrame = {
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Revenue expression used throughout (reference README.md:142). */
  private def revenue: Column =
    col("l_extendedprice") * (lit(1) - col("l_discount"))

  // ---------------------------------------------------------------- Q1
  /** Total sales by day (reference README.md:142). */
  def q1DailyRevenue(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("ship_day"))
      .agg(
        moneySum(revenue).as("revenue"),
        moneySum(col("l_quantity")).as("total_qty"),
        count(lit(1)).as("n_items"))
      .orderBy("ship_day")

  val q1Sql: String =
    """SELECT CAST(l_shipdate AS DATE) AS ship_day,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty,
      |  COUNT(*) AS n_items
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- Q2
  /** Top 10 customers by revenue (reference README.md:143). customer grows
    * with scale factor, so no forced broadcast — AQE picks broadcast at small
    * sf and shuffled-hash/SMJ at large sf. Top-k plans as
    * TakeOrderedAndProject, not a global sort. */
  def q2TopCustomers(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val c = table(spark, dir, "customer")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        moneySum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("order_count"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(10)
  }

  val q2Sql: String =
    """SELECT c_custkey, c_name,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS order_count
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey, c_name
      |ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- Q3
  /** Product (brand) performance (reference README.md:144): fact ⋈ part dim.
    * part scales with sf → join strategy left to AQE (no forced broadcast). */
  def q3ProductPerformance(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val p = table(spark, dir, "part")
    li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        moneySum(revenue).as("revenue"),
        moneySum(col("l_quantity")).as("total_qty"),
        count(lit(1)).as("n_items"),
        moneyAvg(col("l_extendedprice")).as("avg_price"))
      .orderBy("p_brand")
  }

  val q3Sql: String =
    """SELECT p_brand,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty,
      |  COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------- Q4
  /** Rolling 7-day average revenue (reference README.md:145). The rolling sum
    * stays in decimal inside the window frame so the result is order- and
    * algorithm-independent (DuckDB uses segment trees for moving frames;
    * float accumulation order would differ). */
  def q4Rolling7Day(spark: SparkSession, dir: String): DataFrame = {
    // Keep the naturally widened DECIMAL(28,4) sum type for the window input:
    // a re-cast to DECIMAL(18,4) could overflow→NULL silently at large sf.
    val daily = table(spark, dir, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("ship_day"))
      .agg(sum(revenue.cast(Money)).as("rev"))
    // Single-partition window is deliberate and bounded: input is the DAILY
    // aggregate (one row per distinct ship date — ~2.5k rows here, ~36k rows
    // even for a century of data), so "all data to a single partition" is a
    // few-KB sort, not a scale hazard. The heavy lifting (fact-table agg)
    // happened in the partial+final hash aggregate above.
    val w = Window.orderBy("ship_day").rowsBetween(-6, 0)
    daily.select(
        col("ship_day"),
        col("rev").cast(DoubleType).as("revenue"),
        (sum(col("rev")).over(w).cast(DoubleType) / count(lit(1)).over(w))
          .as("rolling_avg_7d"))
      .orderBy("ship_day")
  }

  val q4Sql: String =
    """WITH daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS ship_day,
      |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
      |  FROM lineitem GROUP BY 1)
      |SELECT ship_day, CAST(rev AS DOUBLE) AS revenue,
      |  CAST(SUM(rev) OVER w AS DOUBLE) / COUNT(*) OVER w AS rolling_avg_7d
      |FROM daily
      |WINDOW w AS (ORDER BY ship_day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY ship_day""".stripMargin

  // ---------------------------------------------------------------- Q5
  /** Failure trend (reference README.md:146 — failed files by day). The
    * testdata analogue: error events per day from the events stream table. */
  def q5FailureTrend(spark: SparkSession, dir: String): DataFrame =
    eventsTable(spark, dir)
      .filter(col("event_type") === "error")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_failures"))
      .orderBy("day")

  val q5Sql: String =
    """SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_failures
      |FROM events WHERE event_type = 'error'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- Q6
  /** Revenue rollup by returnflag/linestatus (reference README.md:134 —
    * multi-granularity dashboards as ONE grouping-sets plan, not N queries). */
  def q6RevenueRollup(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(moneySum(revenue).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  val q6Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- Q7
  /** Pricing summary (TPC-H Q1 shape): the canonical partial+final hash agg.
    * charge = price × (1-disc) × (1+tax) is a 6dp-exact product. */
  def q7PricingSummary(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        moneySum(revenue).as("sum_disc_price"),
        sum((revenue * (lit(1) + col("l_tax"))).cast(DecimalType(18, 6)))
          .cast(DoubleType).as("sum_charge"),
        moneyAvg(col("l_quantity")).as("avg_qty"),
        moneyAvg(col("l_extendedprice")).as("avg_price"),
        moneyAvg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q7Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- Q8
  /** Revenue by region/nation: 3-way dim join chain. nation/region are
    * constant-size (25/5 rows at every sf) → safe forced broadcast; customer
    * scales with sf → strategy left to AQE. */
  def q8RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val c = table(spark, dir, "customer")
    val n = table(spark, dir, "nation")
    val r = table(spark, dir, "region")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        moneySum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("r_name", "n_name")
  }

  val q8Sql: String =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------- Q9
  /** Top 5 suppliers by lineitem revenue. supplier scales with sf → join
    * strategy left to AQE (no forced broadcast). */
  def q9TopSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val s = table(spark, dir, "supplier")
    li.join(s, li("l_suppkey") === s("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(moneySum(revenue).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("s_suppkey"))
      .limit(5)
  }

  val q9Sql: String =
    """SELECT s_suppkey, s_name,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_suppkey, s_name
      |ORDER BY revenue DESC, s_suppkey LIMIT 5""".stripMargin

  // ---------------------------------------------------------------- Q10
  /** Customer segment stats: exact decimal avg over a signed 2dp column. */
  def q10SegmentStats(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_customers"),
        moneyAvg(col("c_acctbal")).as("avg_acctbal"),
        min(col("c_acctbal")).as("min_acctbal"),
        max(col("c_acctbal")).as("max_acctbal"))
      .orderBy("c_mktsegment")

  val q10Sql: String =
    """SELECT c_mktsegment,
      |  COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_acctbal,
      |  MIN(c_acctbal) AS min_acctbal,
      |  MAX(c_acctbal) AS max_acctbal
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- Q11
  /** Order priority/status breakdown. */
  def q11OrderPriority(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("total_revenue"))
      .orderBy("o_orderpriority", "o_orderstatus")

  val q11Sql: String =
    """SELECT o_orderpriority, o_orderstatus,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
      |FROM orders GROUP BY o_orderpriority, o_orderstatus
      |ORDER BY o_orderpriority, o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- Q12
  /** Distinct-count profile per returnflag: hash-agg distinct rewrite. */
  def q12DistinctParts(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_suppliers"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy("l_returnflag")

  val q12Sql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_suppliers,
      |  COUNT(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- Q13
  /** Hourly event rollup. Hour emitted as string: parquet/duckdb timestamp
    * units (us vs ns) would otherwise diverge in the dump. */
  def q13EventsHourly(spark: SparkSession, dir: String): DataFrame =
    eventsTable(spark, dir)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        moneySum(col("value")).as("total_value"))
      .orderBy("hour", "event_type")

  val q13Sql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
      |  event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- Q14
  /** JSON extraction from the events props column (semi-structured path). */
  def q14EventsJson(spark: SparkSession, dir: String): DataFrame =
    eventsTable(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast(IntegerType))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  val q14Sql: String =
    """SELECT event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- Q15
  /** Orders per customer including zero-order customers: left outer join.
    * count(o_orderkey) counts only matched rows, as in SQL. */
  def q15CustomerOrderCounts(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val o = table(spark, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")
  }

  val q15Sql: String =
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- Q16
  /** Customers with no orders: anti join (plans as BroadcastHashJoin
    * LeftAnti over the orders keys — no NOT IN row explosion). */
  def q16CustomersNoOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val o = table(spark, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  val q16Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer c WHERE NOT EXISTS
      |  (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- Q36
  /** Orders with at least one line shipped after the order date, by
    * priority: the EXISTS/semi-join pattern (plans as a LeftSemi hash join
    * — each order tested once, no row explosion from multiple matching
    * lines). */
  def q36LateShipOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val li = table(spark, dir, "lineitem")
    o.join(li,
        o("o_orderkey") === li("l_orderkey") &&
          li("l_shipdate") > o("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("total_revenue"))
      .orderBy("o_orderpriority")
  }

  val q36Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
      |FROM orders o WHERE EXISTS (
      |  SELECT 1 FROM lineitem l
      |  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- Q37
  /** Exact value percentiles per event type. Spark's `percentile` and
    * DuckDB's `quantile_cont` share the same linear-interpolation formula
    * (verified bit-identical on this data), so the entry is hash-exact.
    * Scale note: exact percentile sorts each group's values — fine for
    * bounded group counts; at row-scale cardinalities switch to
    * `approx_percentile` (t-digest sketch, mergeable map-side — not
    * oracle-comparable, so not registered). */
  def q37ValuePercentiles(spark: SparkSession, dir: String): DataFrame =
    eventsTable(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        expr("percentile(value, 0.99)").as("p99"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy("event_type")

  val q37Sql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  quantile_cont(value, 0.5) AS p50,
      |  quantile_cont(value, 0.9) AS p90,
      |  quantile_cont(value, 0.99) AS p99,
      |  MIN(value) AS min_value, MAX(value) AS max_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q1_daily_revenue", q1DailyRevenue _, q1Sql),
    Query("q2_top_customers", q2TopCustomers _, q2Sql),
    Query("q3_product_performance", q3ProductPerformance _, q3Sql),
    Query("q4_rolling_7day", q4Rolling7Day _, q4Sql),
    Query("q5_failure_trend", q5FailureTrend _, q5Sql),
    Query("q6_revenue_rollup", q6RevenueRollup _, q6Sql),
    Query("q7_pricing_summary", q7PricingSummary _, q7Sql),
    Query("q8_region_revenue", q8RegionRevenue _, q8Sql),
    Query("q9_top_suppliers", q9TopSuppliers _, q9Sql),
    Query("q10_segment_stats", q10SegmentStats _, q10Sql),
    Query("q11_order_priority", q11OrderPriority _, q11Sql),
    Query("q12_distinct_parts", q12DistinctParts _, q12Sql),
    Query("q13_events_hourly", q13EventsHourly _, q13Sql),
    Query("q14_events_json", q14EventsJson _, q14Sql),
    Query("q15_customer_order_counts", q15CustomerOrderCounts _, q15Sql),
    Query("q16_customers_no_orders", q16CustomersNoOrders _, q16Sql),
    Query("q36_late_ship_orders", q36LateShipOrders _, q36Sql),
    Query("q37_value_percentiles", q37ValuePercentiles _, q37Sql))
}
