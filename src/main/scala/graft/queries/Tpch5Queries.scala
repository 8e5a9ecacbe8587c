package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query

/** Fifth TPC-H batch: Q7 (volume shipping — the two-sided role-playing
  * join where BOTH trading partners come from the same dimension and
  * the predicate couples them) and a Q9-shape profit rollup (nation ×
  * year from the SUPPLIER role with a part-driven cost term; `partsupp`
  * doesn't exist in this schema, so list price stands in for supply
  * cost — the join/aggregation shape is Q9's, the cost column is not).
  */
object Tpch5Queries {

  private def volume = (col("l_extendedprice") * (lit(1) - col("l_discount")))
    .cast("decimal(18,4)")

  // --------------------------------------------------------------- q132
  /** TPC-H Q7 shape (volume shipping): revenue flowing between NATION_18
    * and NATION_19 (a pair with suppliers at every test scale factor) in
    * BOTH directions, by (supplier nation, customer nation, ship year).
    * q100_nation_volume computes the UNFILTERED all-pairs matrix (every
    * nation² cell, full fact scan); this is the other half of Q7's
    * lesson — when the question names specific partners, the pair
    * restriction must reach the DIMENSIONS before the fact join, not
    * run as a post-join filter on the matrix: each side is
    * pre-restricted to the two nations (so the fact shrinks before any
    * wide join), and only the direction predicate — supplier and
    * customer nations must differ — runs after both roles are attached.
    *
    * Scale shape: supplier and customer are each semi-reduced by a
    * broadcast of the 2-row nation slice BEFORE touching the fact, so
    * the lineitem shuffle carries only rows whose supplier is in one of
    * the two nations (~2/25ths of the fact). The ship-year range is a
    * pushed scan filter. orders↔lineitem on orderkey is the one big
    * shuffle; the reduced customer side is AQE's size-based choice.
    * Exact decimal volume sums → one final double cast: bit-exact. */
  def q132VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val nations = Kpis.table(spark, dir, "nation")
      .filter(col("n_name").isin("NATION_18", "NATION_19"))
    val supp = Kpis.table(spark, dir, "supplier")
      .select("s_suppkey", "s_nationkey")
      .join(broadcast(nations.select(col("n_nationkey"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "supp_nation")
    val cust = Kpis.table(spark, dir, "customer")
      .select("c_custkey", "c_nationkey")
      .join(broadcast(nations.select(col("n_nationkey").as("cn_nationkey"),
        col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("cn_nationkey"))
      .select("c_custkey", "cust_nation")
    val o = Kpis.table(spark, dir, "orders").select("o_orderkey", "o_custkey")
    Kpis.table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00"))
        && col("l_shipdate") < to_timestamp(lit("1998-01-01 00:00:00")))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"), volume.as("volume"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum(col("volume")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val q132Sql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(EXTRACT(YEAR FROM CAST(l_shipdate AS TIMESTAMP)) AS BIGINT)
      |    AS l_year,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |       AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE n1.n_name IN ('NATION_18', 'NATION_19')
      |  AND n2.n_name IN ('NATION_18', 'NATION_19')
      |  AND n1.n_name <> n2.n_name
      |  AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      |  AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // --------------------------------------------------------------- q133
  /** TPC-H Q9 shape (product-type profit by nation and year): for parts
    * whose name matches a token, margin-vs-list = revenue − list_value
    * where list_value = p_retailprice · l_quantity, aggregated by the
    * SUPPLIER'S nation and order year. The shape is Q9's — a part-name
    * filter driving a 5-way join with the profit term mixing columns
    * from three tables (lineitem × part × orders) — with list price in
    * the supply-cost seat (no partsupp table in this schema; margins can
    * go negative, which is the point of the metric).
    *
    * Exactness: both products are double multiplies of 2-dp inputs —
    * identical single IEEE ops in both engines — each cast to exact
    * DECIMAL(18,4) BEFORE the subtraction and sum, so the aggregate has
    * no float summation-order jitter; one final double cast.
    *
    * Scale shape: the name filter prunes part first (its ~1/6 survivor
    * set broadcasts), lineitem→orders on orderkey is the one big
    * shuffle, supplier joins AQE-sized, nation broadcast. */
  def q133NationProfit(spark: SparkSession, dir: String): DataFrame = {
    val p = Kpis.table(spark, dir, "part")
      .filter(col("p_name").contains("red"))
      .select("p_partkey", "p_retailprice")
    val s = Kpis.table(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
    val n = Kpis.table(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name").as("nation"))
    val o = Kpis.table(spark, dir, "orders").select("o_orderkey", "o_orderdate")
    val amount = volume -
      (col("p_retailprice") * col("l_quantity")).cast("decimal(18,4)")
    Kpis.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(amount).cast("double").as("margin_vs_list"),
        count(lit(1)).as("n_items"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q133Sql: String =
    """SELECT n_name AS nation,
      |  CAST(EXTRACT(YEAR FROM CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)
      |    AS o_year,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
      |         - CAST(p_retailprice * l_quantity AS DECIMAL(18,4)))
      |       AS DOUBLE) AS margin_vs_list,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin

  // --------------------------------------------------------------- q145
  /** Order-fulfillment lead time by priority: days from order placement
    * to line-item ship, with exact p50/p90 — the operational-SLA
    * distribution the reference's dashboards report from Postgres.
    *
    * Scale shape: the orderkey equi-join of the two fact tables is the
    * one big shuffle (both sides pruned to three columns at the scan);
    * the grouped exact percentile sorts per 5-priority group — the
    * documented exact-audit posture (q37/q117): the sketch path takes
    * over when a group outgrows a partition. Lead days are exact
    * integers; mean = one double division of exact sums. */
  def q145LeadtimePercentiles(spark: SparkSession, dir: String): DataFrame = {
    val o = Kpis.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        to_date(col("o_orderdate")).as("od"))
    Kpis.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("sd"), col("od")).cast("long").as("lead_days"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        (sum(col("lead_days")).cast("double") /
          count(lit(1)).cast("double")).as("mean_days"),
        expr("percentile(lead_days, 0.5)").as("p50_days"),
        expr("percentile(lead_days, 0.9)").as("p90_days"))
      .orderBy("o_orderpriority")
  }

  val q145Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(lead_days) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |    AS mean_days,
      |  quantile_cont(lead_days, 0.5) AS p50_days,
      |  quantile_cont(lead_days, 0.9) AS p90_days
      |FROM (
      |  SELECT o_orderpriority,
      |    CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)
      |         AS BIGINT) AS lead_days
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q132_volume_shipping", q132VolumeShipping _, q132Sql),
    Query("q133_nation_profit", q133NationProfit _, q133Sql),
    Query("q145_leadtime_percentiles", q145LeadtimePercentiles _, q145Sql))
}
