package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query

/** Inventory-policy analytics over the order stream — the operational
  * queries a supply-side consumer runs on the same star schema the
  * revenue KPIs read: optimal lot sizing (q345 EOQ) and
  * intermittent-demand forecasting (q346 Croston), joining the OR
  * family q249 (newsvendor) and q307 (water-filling) opened. Extension
  * scope (no reference twin).
  */
object InventoryQueries {

  // --------------------------------------------------------------- q345
  /** Economic order quantity per brand (Harris 1913): the lot size
    * minimizing ordering + holding cost, EOQ = √(2DK/h) with demand D =
    * corpus-total quantity, fixed order cost K = 100 (literal), and
    * holding cost h = 20% of the brand's mean unit retail price. With
    * h = 0.2·(ysum/n), EOQ collapses to √(1000·D·n/ysum) — the mean
    * never needs its own division. Also emits the implied order count
    * D/EOQ (how many replenishments the horizon demands).
    *
    * Exactness: D and ysum are exact decimal sums; D·n is an exact
    * decimal product cast to double below 2⁵³; EOQ is the fixed chain
    * 1000·t/ysum → √ (IEEE sqrt is correctly rounded) and the implied
    * count one further division — identical operand streams in both
    * engines, 6-dp snapped.
    *
    * Scale shape: one fact join collapses into a map-combinable
    * per-brand agg (25 cells, catalog-bounded); the part-side agg is
    * entity-scale; the closing arithmetic is constant-size. */
  def q345Eoq(spark: SparkSession, dir: String): DataFrame = {
    // shared brand census (ADVICE r13): x arrives DECIMAL(28,2); cast
    // down to the (18,2) demand width HERE so the dn product stays
    // inside DuckDB's 38-digit decimal ceiling (28+12 would not)
    val joined = EvalQueries.brandCensus(spark, dir)
      .withColumn("d", col("x").cast("decimal(18,2)"))
      .withColumn("dn", (col("d") * col("n_parts").cast("decimal(12,0)"))
        .cast("decimal(31,2)"))
    val eoqRaw = sqrt(lit(1000.0) * col("dn").cast("double") /
      col("ysum").cast("double"))
    joined.select(col("p_brand"),
        col("d").cast("double").as("total_demand"),
        col("n_parts"),
        (round(eoqRaw, 6) + lit(0.0)).as("eoq"),
        (round(col("d").cast("double") / eoqRaw, 6) + lit(0.0))
          .as("implied_orders"))
      .orderBy("p_brand")
  }

  val q345Sql: String =
    s"""WITH ${EvalQueries.brandCensusCte},
      |j AS (
      |  SELECT p_brand, CAST(x AS DECIMAL(18,2)) AS d, ysum, n_parts,
      |    CAST(CAST(x AS DECIMAL(18,2)) * CAST(n_parts AS DECIMAL(12,0))
      |      AS DECIMAL(31,2)) AS dn
      |  FROM census)
      |SELECT p_brand, CAST(d AS DOUBLE) AS total_demand, n_parts,
      |  ROUND(SQRT(1000.0 * CAST(dn AS DOUBLE) / CAST(ysum AS DOUBLE)), 6)
      |    + 0.0 AS eoq,
      |  ROUND(CAST(d AS DOUBLE) /
      |    SQRT(1000.0 * CAST(dn AS DOUBLE) / CAST(ysum AS DOUBLE)), 6)
      |    + 0.0 AS implied_orders
      |FROM j ORDER BY p_brand""".stripMargin

  // --------------------------------------------------------------- q346
  /** Croston's method (1972) per brand over the trailing 12 calendar
    * months — the standard forecaster for INTERMITTENT demand, where
    * simple smoothing is biased by the zero months: smooth the nonzero
    * demand sizes ẑ and the inter-demand intervals p̂ separately, and
    * forecast demand-per-period as ẑ/p̂. Both smoothers use the q125
    * dyadic-weight EWMA (weight 2^(12−j) on the j-th most recent
    * demand month), whose shared normalizer CANCELS in the ratio — the
    * forecast is numerator-over-numerator, one division. Also emits the
    * naive rate (window total / 12) the method corrects.
    *
    * Exactness: month indices, recency ranks, intervals, and the
    * integer dyadic weights are exact; weighted sums are exact decimal
    * / integer arithmetic; the forecast and naive rate are ONE double
    * division each over exact operands — no recursive float state, the
    * q125 determinism argument verbatim.
    *
    * Scale shape: the fact table collapses to the (brand, month) grid
    * (≤ 25×12 cells after the window filter) in one map-combinable
    * agg; ranks/lags are windows PARTITIONED by brand over ≤12-row
    * groups; the corpus max-month is a 1-row broadcast. */
  def q346Croston(spark: SparkSession, dir: String): DataFrame = {
    val li = Kpis.table(spark, dir, "lineitem")
      .select(col("l_partkey"), to_date(col("l_shipdate")).as("d"),
        col("l_quantity").cast("decimal(18,2)").as("q"))
      .join(Kpis.table(spark, dir, "part")
        .select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .withColumn("m", (year(col("d")) * 12 + month(col("d"))).cast("long"))
    val mx = li.agg(max(col("m")).as("max_m"))
    val cells = li.crossJoin(broadcast(mx))
      .filter(col("m") > col("max_m") - 12)
      .groupBy(col("p_brand"), col("m"), col("max_m"))
      .agg(sum(col("q")).cast("decimal(18,2)").as("z"))
    val byRecency = Window.partitionBy(col("p_brand"))
      .orderBy(col("m").desc)
    val ranked = cells
      .withColumn("rk", row_number().over(byRecency))
      .withColumn("older_m", lead(col("m"), 1).over(byRecency))
      // oldest demand month: interval counted from the window start
      .withColumn("gap_m",
        col("m") - coalesce(col("older_m"), col("max_m") - lit(12L)))
      .withColumn("wt",
        when(col("rk") <= 12, pow(lit(2.0), lit(12) - col("rk"))
          .cast("long")).otherwise(lit(0L)))
    ranked.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_demand_months"),
        sum((col("z") * col("wt").cast("decimal(8,0)"))
          .cast("decimal(27,2)")).cast("decimal(37,2)").as("num_z"),
        sum(col("wt") * col("gap_m")).as("num_p"),
        sum(col("z")).cast("decimal(28,2)").as("window_total"))
      .select(col("p_brand"), col("n_demand_months"),
        col("num_z").cast("double").as("num_z"),
        col("num_p"),
        (round(col("num_z").cast("double") / col("num_p").cast("double"),
          6) + lit(0.0)).as("croston_rate"),
        (round(col("window_total").cast("double") / lit(12.0), 6) +
          lit(0.0)).as("naive_rate"))
      .orderBy("p_brand")
  }

  val q346Sql: String =
    """WITH li AS (
      |  SELECT p_brand,
      |    CAST(YEAR(CAST(l_shipdate AS DATE)) * 12
      |      + MONTH(CAST(l_shipdate AS DATE)) AS BIGINT) AS m,
      |    CAST(l_quantity AS DECIMAL(18,2)) AS q
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |mx AS (SELECT MAX(m) AS max_m FROM li),
      |cells AS (
      |  SELECT p_brand, m, max_m,
      |    CAST(SUM(q) AS DECIMAL(18,2)) AS z
      |  FROM li CROSS JOIN mx WHERE m > max_m - 12
      |  GROUP BY 1, 2, 3),
      |ranked AS (
      |  SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY m DESC) AS rk,
      |    LEAD(m, 1) OVER (PARTITION BY p_brand ORDER BY m DESC)
      |      AS older_m
      |  FROM cells),
      |wtd AS (
      |  SELECT p_brand, z,
      |    m - COALESCE(older_m, max_m - 12) AS gap_m,
      |    CASE WHEN rk <= 12
      |      THEN CAST(POWER(2, 12 - rk) AS BIGINT) ELSE 0 END AS wt
      |  FROM ranked)
      |SELECT p_brand, COUNT(*) AS n_demand_months,
      |  CAST(CAST(SUM(CAST(z * CAST(wt AS DECIMAL(8,0))
      |    AS DECIMAL(27,2))) AS DECIMAL(37,2)) AS DOUBLE) AS num_z,
      |  CAST(SUM(wt * gap_m) AS BIGINT) AS num_p,
      |  ROUND(CAST(CAST(SUM(CAST(z * CAST(wt AS DECIMAL(8,0))
      |      AS DECIMAL(27,2))) AS DECIMAL(37,2)) AS DOUBLE)
      |    / CAST(CAST(SUM(wt * gap_m) AS BIGINT) AS DOUBLE), 6) + 0.0
      |    AS croston_rate,
      |  ROUND(CAST(CAST(SUM(z) AS DECIMAL(28,2)) AS DOUBLE) / 12.0, 6)
      |    + 0.0 AS naive_rate
      |FROM wtd GROUP BY p_brand ORDER BY p_brand""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q345_eoq", q345Eoq _, q345Sql),
    Query("q346_croston", q346Croston _, q346Sql))
}
