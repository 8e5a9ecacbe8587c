package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query

/** Seventh TPC-H batch — the last two query SHAPES the suite had not yet
  * covered: Q18 (HAVING-filtered aggregate driving a top-level join back
  * to its parent dimensions) and Q19 (a disjunction of brand/size/quantity
  * predicate bundles evaluated in ONE fact pass). With these, every
  * TPC-H query shape (Q1–Q22) is represented somewhere in the registry.
  *
  * Reference provenance: the reference's analytics surface is flat
  * GROUP-BY SQL (reference `sql/init.sql`, `dags/process_sales_dags.py`
  * report queries); these batches extend it to the decision-support join
  * patterns a warehouse user writes next.
  */
object Tpch7Queries {

  private def volume = (col("l_extendedprice") * (lit(1) - col("l_discount")))
    .cast("decimal(18,4)")

  // --------------------------------------------------------------- q289
  /** TPC-H Q18 shape (large-volume customers): orders whose lineitems sum
    * to more than 250 units, joined back to the order header and the
    * customer. Q18's signature is that the HAVING aggregate — not a
    * dimension filter — is the driving relation: the fact table reduces
    * FIRST, and only the few surviving orderkeys visit orders/customer.
    *
    * Scale shape: one orderkey shuffle with map-side partial sums over
    * lineitem (2 narrow columns read), then the ~1%-selectivity survivor
    * set joins orders; AQE turns that survivor side into a broadcast at
    * runtime. Quantities are small integers stored as double (1..50, row
    * sums < 500), so the double sum is order-independent and bit-exact
    * in both engines; o_totalprice is emitted raw (no arithmetic). */
  def q289LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Kpis.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 250.0)
    big
      .join(Kpis.table(spark, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Kpis.table(spark, dir, "customer")
        .select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("odate"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
  }

  val q289Sql: String =
    """SELECT c_name, c_custkey, o_orderkey,
      |  CAST(o_orderdate AS DATE) AS odate, o_totalprice, total_qty
      |FROM (
      |  SELECT l_orderkey, SUM(l_quantity) AS total_qty
      |  FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 250
      |) big
      |JOIN orders ON big.l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY total_qty DESC, o_orderkey""".stripMargin

  // --------------------------------------------------------------- q290
  /** TPC-H Q19 shape (disjunctive predicate revenue): discounted revenue
    * from lineitems matching ANY of three brand/size/quantity predicate
    * bundles. Q19's signature is that the OR-of-ANDs is evaluated in ONE
    * join pass — naive engines run three scans and union; here the
    * brand pre-filter broadcasts (~230 part rows) and the quantity
    * envelope (the UNION of the three ranges, 1..30) is pushed into the
    * parquet scan so the fact slice is pruned before the join ever runs.
    *
    * Scale shape: zero fact shuffles — broadcast-join then a scalar
    * map-side-combinable aggregate. Revenue accumulates in
    * DECIMAL(18,4) (exact, reorder-safe) and is emitted as double. */
  def q290DisjunctRevenue(spark: SparkSession, dir: String): DataFrame = {
    val p = Kpis.table(spark, dir, "part")
      .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#3"))
      .select("p_partkey", "p_brand", "p_size")
    val bundle =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    Kpis.table(spark, dir, "lineitem")
      .filter(col("l_quantity").between(1, 30))
      .select(col("l_partkey"), col("l_quantity"), volume.as("volume"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(bundle)
      .agg(sum(col("volume")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q290Sql: String =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
      |       AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
      |       AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q289_large_orders", q289LargeOrders _, q289Sql),
    Query("q290_disjunct_revenue", q290DisjunctRevenue _, q290Sql))
}
