package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query

/** Third batch of TPC-H-shape analytics — the remaining classic shapes
  * this schema supports directly (no partsupp table and no
  * l_shipmode/l_receiptdate; round 12's [[Tpch6Queries]] later covered
  * the Q2/Q11/Q16/Q20 shapes on the lineitem-derived supply relation and
  * Q4/Q12/Q21 via the lateness adaptation):
  * Q17 (correlated per-part average threshold), Q15 (argmax-by-revenue
  * via exact-decimal max equality), Q22 (anti-join + global-average
  * subquery), and the per-group top-k window every warehouse runs.
  */
object Tpch3Queries {

  private def rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
    .cast("decimal(18,4)")

  // --------------------------------------------------------------- q108
  /** TPC-H Q17 shape (small-quantity-order revenue): average yearly
    * revenue that would be lost if orders for one brand's parts below
    * 20% of that part's average order quantity were no longer taken.
    * The correlated scalar subquery (per-part average) lowers to one
    * hash aggregate over the brand's semi-joined lineitems, re-joined on
    * partkey — at scale the brand filter prunes the part scan to ~1/25
    * of parts, and nothing shuffles the full lineitem twice. The
    * brand slice and the threshold table scale with sf, so their join
    * strategy is left to AQE's size-based choice (the Kpis broadcast
    * policy: forced broadcast only for constant-size dims).
    *
    * Exactness: l_quantity is a double in the data, so the per-part
    * average goes through the exact-decimal-sum convention
    * (DECIMAL(18,4) sum → one double division); the 0.2 multiplier and
    * the comparison are then single double ops on identical operands. */
  def q108SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val p = Kpis.table(spark, dir, "part")
      .filter(col("p_brand") === "Brand#23")
      .select("p_partkey")
    val l = Kpis.table(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(p, col("l_partkey") === col("p_partkey"))
    val thresh = l.groupBy(col("l_partkey").as("t_partkey"))
      .agg((lit(0.2) * (sum(col("l_quantity").cast("decimal(18,4)"))
        .cast("double") / count(lit(1)).cast("double"))).as("qty_limit"))
    l.join(thresh, col("l_partkey") === col("t_partkey"))
      .filter(col("l_quantity") < col("qty_limit"))
      .agg((sum(col("l_extendedprice").cast("decimal(18,4)"))
        .cast("double") / lit(7.0)).as("avg_yearly"))
  }

  val q108Sql: String =
    """WITH l AS (
      |  SELECT l_partkey, l_quantity, l_extendedprice
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand = 'Brand#23'),
      |thresh AS (
      |  SELECT l_partkey AS t_partkey,
      |    0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
      |           / CAST(COUNT(*) AS DOUBLE)) AS qty_limit
      |  FROM l GROUP BY 1)
      |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
      |         / 7.0 AS avg_yearly
      |FROM l JOIN thresh ON l_partkey = t_partkey
      |WHERE l_quantity < qty_limit""".stripMargin

  // --------------------------------------------------------------- q109
  /** TPC-H Q15 shape (top supplier): the supplier(s) whose 1997Q1
    * shipped revenue equals the maximum across suppliers. The "equal to
    * scalar max" predicate compares EXACT decimal sums (double rendering
    * happens only at output), so tie detection is bit-safe in both
    * engines — the reason Q15 is a determinism trap when computed in
    * floats. Plan: one hash agg over the quarter's lineitems, a 1-row
    * broadcast max, and a supplier dim join whose strategy is AQE's
    * size-based choice (supplier scales with sf — the Kpis broadcast
    * policy). */
  def q109TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val revs = Kpis.table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01 00:00:00"))
        && col("l_shipdate") < to_timestamp(lit("1997-04-01 00:00:00")))
      .select(col("l_suppkey"), rev.as("rev"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("rev")).as("total_rev"))
    val best = revs.agg(max(col("total_rev")).as("max_rev"))
    val s = Kpis.table(spark, dir, "supplier").select("s_suppkey", "s_name")
    revs.crossJoin(broadcast(best))
      .filter(col("total_rev") === col("max_rev"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  val q109Sql: String =
    """WITH revs AS (
      |  SELECT l_suppkey,
      |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |      AS total_rev
      |  FROM lineitem
      |  WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      |    AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
      |FROM revs JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_rev = (SELECT MAX(total_rev) FROM revs)
      |ORDER BY s_suppkey""".stripMargin

  // --------------------------------------------------------------- q110
  /** TPC-H Q22 shape (global sales opportunity): per-nation count and
    * total balance of "churned" customers — above-average account
    * balance (average over positive balances only) with NO orders since
    * 2000-01-01 (Q22's "no orders for 7 years" recency test; every
    * customer in this data has *some* order, so the recency predicate is
    * what gives the anti-join its selectivity). The scalar average is a
    * 1-row broadcast of an exact decimal sum; the recency test is a
    * LEFT ANTI join on custkey against the date-pruned orders scan
    * (never an IN-list or a count-filter); nation is a broadcast dim.
    * All three inputs prune to two columns each at the scan. */
  def q110IdleCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Kpis.table(spark, dir, "customer")
      .select("c_custkey", "c_nationkey", "c_acctbal")
    val avgBal = c.filter(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast("decimal(18,4)")).cast("double")
        / count(lit(1)).cast("double")).as("avg_bal"))
    val o = Kpis.table(spark, dir, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01 00:00:00")))
      .select("o_custkey")
    val n = Kpis.table(spark, dir, "nation").select("n_nationkey", "n_name")
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("c_acctbal").cast("decimal(18,4)")).cast("double")
          .as("total_bal"))
      .orderBy("n_name")
  }

  val q110Sql: String =
    """WITH avg_bal AS (
      |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
      |           / CAST(COUNT(*) AS DOUBLE) AS avg_bal
      |  FROM customer WHERE c_acctbal > 0)
      |SELECT n_name, COUNT(*) AS n_cust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
      |FROM customer
      |CROSS JOIN avg_bal
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE c_acctbal > avg_bal
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND CAST(o_orderdate AS DATE) >= DATE '2000-01-01')
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // --------------------------------------------------------------- q113
  /** Per-group top-k: the 3 highest-revenue parts within each supplier
    * nation. The window is PARTITIONED by nation (25 groups, each
    * independently sorted — no global sort, no single-partition window),
    * and the rank order is total (exact decimal revenue desc, partkey
    * asc) so cross-engine row selection is deterministic. At scale the
    * heavy work is the one revenue hash-agg; the window runs on the
    * (nation × part) aggregate, orders of magnitude smaller than the
    * fact scan. */
  def q113TopPartsPerNation(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l = Kpis.table(spark, dir, "lineitem")
      .select(col("l_suppkey"), col("l_partkey"), rev.as("rev"))
    val s = Kpis.table(spark, dir, "supplier")
      .select("s_suppkey", "s_nationkey")
    val n = Kpis.table(spark, dir, "nation").select("n_nationkey", "n_name")
    val agg = l
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("l_partkey"))
      .agg(sum(col("rev")).as("total_rev"))
    val w = Window.partitionBy(col("n_name"))
      .orderBy(col("total_rev").desc, col("l_partkey"))
    agg.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("n_name"), col("rk"), col("l_partkey").as("p_partkey"),
        col("total_rev").cast("double").as("revenue"))
      .orderBy(col("n_name"), col("rk"))
  }

  val q113Sql: String =
    """WITH agg AS (
      |  SELECT n_name, l_partkey,
      |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |      AS total_rev
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT n_name, l_partkey, total_rev,
      |    ROW_NUMBER() OVER (PARTITION BY n_name
      |                       ORDER BY total_rev DESC, l_partkey) AS rk
      |  FROM agg)
      |SELECT n_name, CAST(rk AS INTEGER) AS rk, l_partkey AS p_partkey,
      |  CAST(total_rev AS DOUBLE) AS revenue
      |FROM ranked WHERE rk <= 3
      |ORDER BY n_name, rk""".stripMargin

  // --------------------------------------------------------------- q120
  /** TPC-H Q6 shape (forecast revenue change): revenue delta from
    * discount-band lineitems in one shipping year — the canonical
    * SCAN-DOMINATED query: no join, no window, one map-side-combinable
    * aggregate, and every predicate (date window, discount band,
    * quantity cap) a PushedFilter on the parquet scan reading exactly
    * four columns. On 100 TB this query IS the scan; anything beyond
    * pushdown + pruning + whole-stage codegen would be overhead
    * (spec-asserted: all three predicates reach the scan).
    *
    * Exactness: the discount band uses the repo's literal-folding rule —
    * both bounds are spelled as plain literals (0.05 / 0.07), never
    * Scala arithmetic that could land 1 ulp off the SQL spelling. */
  def q120ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Kpis.table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01 00:00:00"))
        && col("l_shipdate") < to_timestamp(lit("1998-01-01 00:00:00"))
        && col("l_discount") >= lit(0.05) && col("l_discount") <= lit(0.07)
        && col("l_quantity") < lit(24.0))
      .agg(sum((col("l_extendedprice") * col("l_discount"))
        .cast("decimal(18,4)")).cast("double").as("revenue_delta"),
        count(lit(1)).as("n_lineitems"))

  val q120Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
      |       AS DOUBLE) AS revenue_delta,
      |  COUNT(*) AS n_lineitems
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      |  AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24.0""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q108_small_qty_revenue", q108SmallQtyRevenue _, q108Sql),
    Query("q109_top_supplier", q109TopSupplier _, q109Sql),
    Query("q110_idle_customers", q110IdleCustomers _, q110Sql),
    Query("q113_top_parts_per_nation", q113TopPartsPerNation _, q113Sql),
    Query("q120_forecast_revenue", q120ForecastRevenue _, q120Sql))
}
