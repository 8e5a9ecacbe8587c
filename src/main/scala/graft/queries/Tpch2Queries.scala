package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query

/** Second batch of TPC-H-shape analytics (companions to [[TpchQueries]]
  * q67/q68): the returned-item report and the promo-revenue ratio — the
  * two remaining classic shapes this schema supports directly. (The
  * schema has no l_shipmode/l_receiptdate columns; round 12's
  * [[Tpch6Queries]] covers the Q4/Q12/Q21 SHAPES anyway via a
  * ship-vs-order-date lateness adaptation — q159/q164/q165.)
  */
object Tpch2Queries {

  private def rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
    .cast("decimal(18,4)")

  // ---------------------------------------------------------------- q76
  /** TPC-H Q10 shape (returned-item reporting): top-20 customers by
    * revenue lost to returns (l_returnflag = 'R') on orders placed in
    * 1996Q4, with the customer's nation. Plan quality: the returnflag
    * filter and the quarter window are PushedFilters on the two fact
    * scans; nation is a broadcast; the top-20 lowers to
    * TakeOrderedAndProject (no global sort). */
  def q76ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val o = Kpis.table(spark, dir, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-10-01 00:00:00"))
        && col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00")))
      .select("o_orderkey", "o_custkey")
    val l = Kpis.table(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), rev.as("rev"))
    val c = Kpis.table(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val n = broadcast(Kpis.table(spark, dir, "nation")
      .select("n_nationkey", "n_name"))
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
      .select("c_custkey", "c_name", "n_name", "c_acctbal", "revenue")
  }

  val q76Sql: String =
    """SELECT c_custkey, c_name, n_name, c_acctbal,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |       AS DOUBLE) AS revenue
      |FROM orders
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND CAST(o_orderdate AS DATE) >= DATE '1996-10-01'
      |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
      |GROUP BY c_custkey, c_name, n_name, c_acctbal
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q77
  /** TPC-H Q14 shape (promotion effect): the share of September-1997
    * revenue coming from PROMO-type parts. One month of lineitem joins
    * the part dim on partkey; both the promo and total revenue are exact
    * decimal sums in a single conditional aggregate (one pass, map-side
    * combinable), and the percentage is one double division on those
    * exact operands — bit-exact cross-engine. */
  def q77PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = Kpis.table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-09-01 00:00:00"))
        && col("l_shipdate") < to_timestamp(lit("1997-10-01 00:00:00")))
      .select(col("l_partkey"), rev.as("rev"))
    val p = Kpis.table(spark, dir, "part").select("p_partkey", "p_type")
    l.join(p, col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", col("rev"))
          .otherwise(lit(0).cast("decimal(18,4)"))).cast("double")
          .as("promo_revenue"),
        sum(col("rev")).cast("double").as("total_revenue"))
      .select(col("promo_revenue"), col("total_revenue"),
        (lit(100.0) * col("promo_revenue") / col("total_revenue"))
          .as("promo_pct"))
  }

  val q77Sql: String =
    """SELECT
      |  CAST(SUM(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
      |    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_revenue,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |       AS DOUBLE) AS total_revenue,
      |  100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
      |    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
      |    / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
      |        AS DECIMAL(18,4))) AS DOUBLE) AS promo_pct
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE CAST(l_shipdate AS DATE) >= DATE '1997-09-01'
      |  AND CAST(l_shipdate AS DATE) < DATE '1997-10-01'""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q76_returned_items", q76ReturnedItems _, q76Sql),
    Query("q77_promo_revenue", q77PromoRevenue _, q77Sql))
}
