package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query

/** Sixth TPC-H batch — the five query SHAPES the suite did not yet cover:
  * Q2 (correlated-min subquery → per-group argmin), Q11 (HAVING against a
  * scalar-subquery total), Q16 (NOT-IN exclusion + COUNT DISTINCT rollup),
  * Q20 (nested semi-join with a correlated share threshold) and Q21
  * (multi-EXISTS/NOT-EXISTS "sole offender" attribution). This schema has
  * no `partsupp` and no commit/receipt dates, so the supply relation is
  * the distinct (l_partkey, l_suppkey) pairs observed in lineitem and
  * "late" is shipping >365 days after the order date — the JOIN SHAPES
  * (decorrelation, anti-join, conditional distinct) are the point, not
  * the TPC-H literal text.
  *
  * Reference provenance: the reference's analytics surface is flat
  * GROUP-BY SQL (reference `sql/init.sql`, `dags/process_sales_dags.py`
  * report queries); these batches extend it to the decision-support join
  * patterns a warehouse user writes next.
  */
object Tpch6Queries {

  // --------------------------------------------------------------- q155
  /** TPC-H Q2 shape (min-cost supplier): for every PROMO-type part with
    * p_size < 10, find the EUROPE-region supplier offering the lowest
    * observed unit price (min over that pair's lineitems), tie-broken by
    * suppkey. The classic formulation is a correlated
    * `ps_supplycost = (SELECT min(..) WHERE ps2.partkey = p.partkey)`
    * subquery; the Spark-first decorrelation is one aggregate over the
    * supply pairs plus a per-part window argmin — no correlated
    * re-execution, no second fact scan.
    *
    * Scale shape: ONE shuffle of the (region-restricted) fact slice on
    * (partkey, suppkey) with map-side partial min; part filter and the
    * region→nation→supplier chain are broadcasts pre-reducing the fact
    * before that shuffle. The argmin window partitions BY PART — ~|parts|
    * groups of ~|suppliers-per-part| rows, never a global window. Unit
    * price is one double division (identical IEEE op in both engines);
    * `min` is reorder-safe, so the result is bit-exact. */
  def q155MincostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val p = Kpis.table(spark, dir, "part")
      .filter(col("p_type") === "PROMO" && col("p_size") < 10)
      .select("p_partkey", "p_name")
    val euroSupp = Kpis.table(spark, dir, "supplier")
      .join(broadcast(Kpis.table(spark, dir, "nation")
        .join(broadcast(Kpis.table(spark, dir, "region")
          .filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val cost = Kpis.table(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") / col("l_quantity")).as("unit"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(euroSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_partkey"), col("p_name"), col("s_suppkey"),
        col("s_name"), col("s_acctbal"), col("n_name"))
      .agg(min(col("unit")).as("supply_cost"))
    val w = Window.partitionBy(col("p_partkey"))
      .orderBy(col("supply_cost").asc, col("s_suppkey").asc)
    cost.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .select(col("p_partkey"), col("p_name"), col("s_name"),
        col("s_acctbal"), col("n_name").as("nation"), col("supply_cost"))
      .orderBy("p_partkey")
  }

  val q155Sql: String =
    """SELECT p_partkey, p_name, s_name, s_acctbal, nation, supply_cost
      |FROM (
      |  SELECT p.p_partkey, p.p_name, s.s_name, s.s_acctbal,
      |    n.n_name AS nation, s.s_suppkey,
      |    MIN(l.l_extendedprice / l.l_quantity) AS supply_cost
      |  FROM lineitem l
      |  JOIN part p ON l.l_partkey = p.p_partkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  WHERE p.p_type = 'PROMO' AND p.p_size < 10 AND r.r_name = 'EUROPE'
      |  GROUP BY 1, 2, 3, 4, 5, 6)
      |QUALIFY row_number() OVER (
      |  PARTITION BY p_partkey ORDER BY supply_cost ASC, s_suppkey ASC) = 1
      |ORDER BY p_partkey""".stripMargin

  // --------------------------------------------------------------- q156
  /** TPC-H Q11 shape (important stock): per-part supply value from
    * NATION_3's suppliers, keeping parts whose value exceeds 1/2000 of
    * the nation's total — the HAVING-against-a-scalar-subquery pattern.
    * Spark-first: the total is a 1-row aggregate broadcast back over the
    * per-part values (one cross-join of a 1-row frame, the decorrelated
    * form of Q11's `> (SELECT sum(..) * fraction)`).
    *
    * Exactness: values are DECIMAL(18,4) sums; the threshold compare
    * multiplies the part value by 2000 in EXACT decimal arithmetic
    * instead of multiplying the total by 0.0005 in floating point —
    * same predicate, zero float jitter. One final double cast for the
    * output column.
    *
    * Scale shape: nation→supplier broadcast prunes the fact scan, one
    * shuffle on l_partkey with map-side partial sums, and the 1-row
    * total broadcasts — no global sort until the final ~thousands-row
    * ORDER BY. */
  def q156ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    val supp = Kpis.table(spark, dir, "supplier")
      .join(broadcast(Kpis.table(spark, dir, "nation")
        .filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val vals = Kpis.table(spark, dir, "lineitem")
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,4)")).as("value"))
    val total = vals.agg(sum(col("value")).as("total"))
    vals.crossJoin(broadcast(total))
      .filter((col("value") * lit(2000)).cast("decimal(38,4)") >
        col("total").cast("decimal(38,4)"))
      .select(col("l_partkey").as("p_partkey"),
        col("value").cast("double").as("supply_value"))
      .orderBy(col("supply_value").desc, col("p_partkey").asc)
  }

  val q156Sql: String =
    """WITH vals AS (
      |  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS value
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_name = 'NATION_3'
      |  GROUP BY 1),
      |total AS (SELECT SUM(value) AS total FROM vals)
      |SELECT l_partkey AS p_partkey, CAST(value AS DOUBLE) AS supply_value
      |FROM vals, total
      |WHERE CAST(value * 2000 AS DECIMAL(38,4)) > CAST(total AS DECIMAL(38,4))
      |ORDER BY supply_value DESC, p_partkey ASC""".stripMargin

  // --------------------------------------------------------------- q157
  /** TPC-H Q16 shape (part/supplier relationship): how many DISTINCT
    * suppliers ship each (brand, type, size) combination, EXCLUDING
    * Brand#5, PROMO-type parts, sizes outside a fixed IN-list, and —
    * the NOT-IN leg — suppliers with a negative account balance (the
    * "customer complaints" stand-in). The NOT IN subquery decorrelates
    * to a broadcast LEFT ANTI join on the supply pairs; COUNT(DISTINCT)
    * runs on the post-exclusion pair set.
    *
    * Scale shape: the supply relation (distinct partkey×suppkey) is ONE
    * fact shuffle with map-side dedup; part predicate broadcasts; the
    * anti-join side is a filtered 100-row supplier slice (broadcast
    * anti). COUNT DISTINCT over (brand,type,size) is Spark's two-phase
    * distinct-aggregate expansion — all exact integers/strings. */
  def q157SupplierPartCounts(spark: SparkSession, dir: String): DataFrame = {
    val p = Kpis.table(spark, dir, "part")
      .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val badSupp = Kpis.table(spark, dir, "supplier")
      .filter(col("s_acctbal") < 0)
      .select(col("s_suppkey").as("l_suppkey"))
    Kpis.table(spark, dir, "lineitem")
      .select("l_partkey", "l_suppkey").distinct()
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(badSupp), Seq("l_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand").asc,
        col("p_type").asc, col("p_size").asc)
  }

  val q157Sql: String =
    """SELECT p_brand, p_type, p_size,
      |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) sp
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
      |  AND l_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC""".stripMargin

  // --------------------------------------------------------------- q158
  /** TPC-H Q20 shape (excess availability → dominant share): ASIA-region
    * suppliers who, for at least one red part, shipped MORE THAN HALF of
    * that part's total 1996 quantity. Q20's correlated
    * `ps_availqty > 0.5 * (SELECT sum(l_quantity) ...)` becomes a
    * per-part total joined back to the per-(part,supplier) sums — the
    * decorrelated two-level aggregate — and the supplier list is the
    * semi-join of the survivors.
    *
    * Exactness: quantities sum as DECIMAL(18,4); the half-share test is
    * `2·pair > total` in exact decimals (no 0.5 float multiply).
    *
    * Scale shape: part-name filter broadcasts into the fact scan (with
    * the 1996 ship-year range pushed to parquet); ONE shuffle on
    * (partkey, suppkey) with partial sums; the per-part total is a
    * second, strictly smaller agg over those partials; region chain
    * broadcasts. Output is per-supplier: |suppliers|-scale. */
  def q158DominantSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val redParts = Kpis.table(spark, dir, "part")
      .filter(col("p_name").startsWith("red")).select("p_partkey")
    val asiaSupp = Kpis.table(spark, dir, "supplier")
      .join(broadcast(Kpis.table(spark, dir, "nation")
        .join(broadcast(Kpis.table(spark, dir, "region")
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "n_name")
    val pairQty = Kpis.table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")))
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("pair_qty"))
    val partQty = pairQty.groupBy(col("p_partkey"))
      .agg(sum(col("pair_qty")).as("part_qty"))
    pairQty.join(partQty, "p_partkey")
      .filter((col("pair_qty") * lit(2)).cast("decimal(38,4)") >
        col("part_qty").cast("decimal(38,4)"))
      .join(broadcast(asiaSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"), col("n_name"))
      .agg(count(lit(1)).as("n_dominant_parts"))
      .select(col("s_suppkey"), col("s_name"), col("n_name").as("nation"),
        col("n_dominant_parts"))
      .orderBy("s_suppkey")
  }

  val q158Sql: String =
    """WITH pair AS (
      |  SELECT p_partkey, l_suppkey,
      |    SUM(CAST(l_quantity AS DECIMAL(18,4))) AS pair_qty
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  WHERE p_name LIKE 'red%'
      |    AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      |    AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      |  GROUP BY 1, 2),
      |tot AS (
      |  SELECT p_partkey, SUM(pair_qty) AS part_qty FROM pair GROUP BY 1)
      |SELECT s_suppkey, s_name, n_name AS nation,
      |  COUNT(*) AS n_dominant_parts
      |FROM pair
      |JOIN tot USING (p_partkey)
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE CAST(pair_qty * 2 AS DECIMAL(38,4)) > CAST(part_qty AS DECIMAL(38,4))
      |  AND r_name = 'ASIA'
      |GROUP BY 1, 2, 3
      |ORDER BY s_suppkey""".stripMargin

  // --------------------------------------------------------------- q159
  /** TPC-H Q21 shape (suppliers who kept orders waiting): in
    * multi-supplier orders, count — per supplier — the orders where that
    * supplier was the ONLY one to ship late (>365 days after the order
    * date). Q21's EXISTS(other supplier) + NOT EXISTS(other LATE
    * supplier) pair collapses, Spark-first, into ONE aggregation per
    * order: `countDistinct(supplier)` ≥ 2 (the EXISTS) and
    * `countDistinct(supplier WHERE late)` = 1 (the NOT-EXISTS), with
    * `max(CASE WHEN late THEN suppkey END)` extracting the sole offender
    * — three aggregates in one pass instead of two correlated
    * re-scans of lineitem.
    *
    * Scale shape: lineitem⋈orders on orderkey is the one fact shuffle
    * (AQE-sized); the per-order aggregate reuses that clustering; the
    * per-supplier rollup is |suppliers|-scale; supplier name attaches by
    * broadcast. Timestamp+interval arithmetic and integer counts only —
    * bit-exact. Top-20 is deterministic: (numwait DESC, s_name) is a
    * total order because names are unique. */
  def q159SoleLateSupplier(spark: SparkSession, dir: String): DataFrame = {
    val o = Kpis.table(spark, dir, "orders").select("o_orderkey", "o_orderdate")
    val late = col("l_shipdate") >
      col("o_orderdate") + expr("INTERVAL 365 DAYS")
    val perOrder = Kpis.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(late, col("l_suppkey"))).as("n_late_supp"),
        max(when(late, col("l_suppkey"))).as("late_supp"))
      .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
    perOrder.groupBy(col("late_supp"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Kpis.table(spark, dir, "supplier")
        .select("s_suppkey", "s_name")),
        col("late_supp") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(20)
  }

  val q159Sql: String =
    """WITH per_order AS (
      |  SELECT l_orderkey,
      |    COUNT(DISTINCT l_suppkey) AS n_supp,
      |    COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate +
      |      INTERVAL 365 DAY THEN l_suppkey END) AS n_late_supp,
      |    MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 365 DAY
      |      THEN l_suppkey END) AS late_supp
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1)
      |SELECT s_name, COUNT(*) AS numwait
      |FROM per_order JOIN supplier ON late_supp = s_suppkey
      |WHERE n_supp >= 2 AND n_late_supp = 1
      |GROUP BY 1
      |ORDER BY numwait DESC, s_name ASC
      |LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q164
  /** TPC-H Q4 shape (order-priority checking): orders placed in 1996
    * with AT LEAST ONE line shipped more than 90 days after the order
    * date, counted by priority. Q4's correlated EXISTS decorrelates to
    * a LEFT SEMI join whose ON clause carries the lateness predicate —
    * each order tests once, with no row explosion from multiple
    * matching lines (q36's semi-join discipline) — followed by a
    * 5-group rollup.
    *
    * Scale shape: the order-date year is a pushed parquet filter on the
    * probe side BEFORE the semi-join, orders⋈lineitem on orderkey is
    * the one fact shuffle, and the rollup output is 5 rows. Exact
    * integer counts. */
  def q164LatePriorityDist(spark: SparkSession, dir: String): DataFrame = {
    val o = Kpis.table(spark, dir, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00")))
    val li = Kpis.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_shipdate")
    o.join(li,
        o("o_orderkey") === li("l_orderkey") &&
          li("l_shipdate") > o("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_late_orders"))
      .orderBy("o_orderpriority")
  }

  val q164Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_late_orders
      |FROM orders
      |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q165
  /** TPC-H Q12 shape (shipping-mode priority audit): among SEVERELY
    * late lines (shipped >180 days after the order date), per return
    * flag (the mode column stand-in — this schema has no l_shipmode),
    * how many belong to critical-priority orders (1-URGENT/2-HIGH)
    * versus not. Q12's signature is the conditional CASE-sum pair
    * inside one aggregate over the order⋈lineitem join — both counts in
    * one pass, not two filtered scans.
    *
    * Scale shape: one orderkey shuffle; the lateness predicate is
    * join-time (needs both sides), the CASE-sums are map-side
    * combinable; 3-row output. Exact integers. */
  def q165ModePriority(spark: SparkSession, dir: String): DataFrame = {
    val crit = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Kpis.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_shipdate")
      .join(Kpis.table(spark, dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 180 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(crit, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(crit, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  val q165Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate > o_orderdate + INTERVAL 180 DAY
      |GROUP BY 1 ORDER BY 1""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q155_mincost_supplier", q155MincostSupplier _, q155Sql),
    Query("q156_important_parts", q156ImportantParts _, q156Sql),
    Query("q157_supplier_part_counts", q157SupplierPartCounts _, q157Sql),
    Query("q158_dominant_suppliers", q158DominantSuppliers _, q158Sql),
    Query("q159_sole_late_supplier", q159SoleLateSupplier _, q159Sql),
    Query("q164_late_priority_dist", q164LatePriorityDist _, q164Sql),
    Query("q165_mode_priority", q165ModePriority _, q165Sql))
}
