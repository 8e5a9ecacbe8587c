package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query

/** Fourth batch of TPC-H-shape analytics: Q8 (national market share —
  * the canonical ROLE-PLAYING dimension query: nation joins the fact
  * twice under two different roles) and Q13 (customer order-count
  * distribution — the canonical LEFT-OUTER + two-level aggregation,
  * where the zero-order group only exists because the join is outer).
  * Q7 and the Q9 shape land in [[Tpch5Queries]]; [[Tpch6Queries]]
  * (round 12) closes the remainder — Q2/Q11/Q16/Q20 on the
  * lineitem-derived supply relation (no partsupp, so Q9 runs on a
  * list-price proxy) and Q4/Q12/Q21 via the ship-vs-order-date
  * lateness adaptation — so every classic TPC-H SHAPE is registered.
  */
object Tpch4Queries {

  private def rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
    .cast("decimal(18,4)")

  // --------------------------------------------------------------- q121
  /** TPC-H Q8 shape (national market share): NATION_3's share of ASIA's
    * ECONOMY-part revenue, per order year. `nation` participates TWICE —
    * once as the customer's nation (restricted through region to ASIA)
    * and once as the supplier's nation (the share numerator) — the
    * role-playing join every star schema eventually needs.
    *
    * Scale shape: the part-type filter prunes the fact first (1/6 of
    * lineitem survives the partkey semi-join), then orders (date-pruned
    * at its scan) joins on orderkey — the one big shuffle; customer and
    * supplier scale with sf so their join strategy is AQE's size-based
    * choice (Kpis broadcast policy), while nation (25 rows) and region
    * (5) are forced broadcasts. The share is computed from TWO exact
    * decimal sums in one aggregate pass (numerator = CASE-guarded sum,
    * denominator = plain sum) — never a self-join of the per-year
    * aggregate — then ONE double division of identical operands on both
    * engines, which is bit-exact.
    */
  def q121MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val p = Kpis.table(spark, dir, "part")
      .filter(col("p_type") === "ECONOMY").select("p_partkey")
    val n = Kpis.table(spark, dir, "nation")
    val custNation = n.select(col("n_nationkey").as("cn_nationkey"),
      col("n_regionkey").as("cn_regionkey"))
    val suppNation = n.select(col("n_nationkey").as("sn_nationkey"),
      col("n_name").as("supp_nation"))
    val asia = Kpis.table(spark, dir, "region")
      .filter(col("r_name") === "ASIA").select("r_regionkey")
    val c = Kpis.table(spark, dir, "customer")
      .select("c_custkey", "c_nationkey")
      .join(broadcast(custNation), col("c_nationkey") === col("cn_nationkey"))
      .join(broadcast(asia), col("cn_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    val s = Kpis.table(spark, dir, "supplier")
      .select("s_suppkey", "s_nationkey")
      .join(broadcast(suppNation), col("s_nationkey") === col("sn_nationkey"))
      .select("s_suppkey", "supp_nation")
    val o = Kpis.table(spark, dir, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00"))
        && col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    Kpis.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        rev.as("volume"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        (sum(when(col("supp_nation") === "NATION_3", col("volume"))
          .otherwise(lit(0).cast("decimal(18,4)"))).cast("double") /
          sum(col("volume")).cast("double")).as("mkt_share"),
        sum(col("volume")).cast("double").as("total_volume"))
      .orderBy("o_year")
  }

  val q121Sql: String =
    """SELECT CAST(EXTRACT(YEAR FROM CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)
      |         AS o_year,
      |  CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
      |           THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
      |           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
      |    / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
      |                    AS DECIMAL(18,4))) AS DOUBLE) AS mkt_share,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |       AS DOUBLE) AS total_volume
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
      |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      |  AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q122
  /** TPC-H Q13 shape (customer order-count distribution): how many
    * customers placed exactly k qualifying orders, INCLUDING k=0 — the
    * zero bucket is the whole point and only exists because the
    * customer↔orders join is LEFT OUTER (an inner join + GROUP BY would
    * silently drop order-less customers). The qualifying filter
    * (priority ≠ 1-URGENT, standing in for Q13's comment NOT LIKE) must
    * sit in the JOIN's ON clause, not a WHERE after it — a post-join
    * WHERE on an outer join would turn it back into an inner join.
    *
    * Scale shape: orders is filtered at its scan (the predicate is a
    * PushedFilter — it's a plain column test, independent of the outer
    * join because Catalyst pushes join-side predicates into the
    * preserved side's scan), both sides shuffle on custkey once, and the
    * second aggregate runs on ≤|customer| rows already partitioned by
    * the first — the distribution itself is dozens of rows. COUNT of a
    * null-producing column (not COUNT(*)) makes the outer-join nulls
    * count as zero on both engines. All-integer output: hash-safe.
    */
  def q122OrderCountDist(spark: SparkSession, dir: String): DataFrame = {
    val o = Kpis.table(spark, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_orderkey", "o_custkey")
    Kpis.table(spark, dir, "customer").select("c_custkey")
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q122Sql: String =
    """WITH per_cust AS (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY 1)
      |SELECT c_count, COUNT(*) AS custdist
      |FROM per_cust GROUP BY 1
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q121_market_share", q121MarketShare _, q121Sql),
    Query("q122_order_count_dist", q122OrderCountDist _, q122Sql))
}
