package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query

/** Classic TPC-H-shape multi-way join analytics over the star schema —
  * the join-planning stress tests every warehouse engine is measured by.
  * The value at 100 TB is in the PLAN: selective dimension filters reach
  * the scans (PushedFilters), the fact table joins shuffle on their keys
  * exactly once, constant-size dims broadcast, and top-k lowers to
  * TakeOrderedAndProject instead of a global sort.
  */
object TpchQueries {

  private def rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
    .cast("decimal(18,4)")

  // ---------------------------------------------------------------- q67
  /** TPC-H Q3 shape (shipping priority): revenue of BUILDING-segment
    * orders placed before the cutoff with lines still unshipped after it
    * — customer⋈orders⋈lineitem, grouped per order, top-10 by revenue.
    * The two date filters prune both fact scans before any join. */
  def q67ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = "1996-03-15"
    val c = Kpis.table(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    // raw-timestamp predicates (≡ the date comparisons for ANY data:
    // ts < day 00:00 ⟺ date < day; ts >= next-day 00:00 ⟺ date > day)
    // so they reach the parquet scan as PushedFilters — a to_date()
    // wrapper would compute the cast per row instead of pruning I/O
    val o = Kpis.table(spark, dir, "orders")
      .filter(col("o_orderdate") < to_timestamp(lit(s"$cutoff 00:00:00")))
      .select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("o_orderdate"))
    val l = Kpis.table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-03-16 00:00:00")))
      .select(col("l_orderkey"), rev.as("rev"))
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
      .select("l_orderkey", "o_orderdate", "revenue")
  }

  val q67Sql: String =
    """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |       AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND CAST(o_orderdate AS DATE) < DATE '1996-03-15'
      |  AND CAST(l_shipdate AS DATE) > DATE '1996-03-15'
      |GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q68
  /** TPC-H Q5 shape (local supplier volume): revenue per nation for 1997
    * ASIA orders where the supplying and buying nations coincide — the
    * 6-way join whose plan quality separates engines: region/nation
    * broadcast (constant size), the c=s nation equality prunes the
    * supplier join, and the fact tables shuffle once each. */
  def q68LocalSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val r = Kpis.table(spark, dir, "region")
      .filter(col("r_name") === "ASIA").select("r_regionkey")
    val n = Kpis.table(spark, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    val asiaNations = broadcast(
      n.join(r, col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name"))
    val c = Kpis.table(spark, dir, "customer")
      .select("c_custkey", "c_nationkey")
    val o = Kpis.table(spark, dir, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1997-01-01 00:00:00"))
        && col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
      .select("o_orderkey", "o_custkey")
    val l = Kpis.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), rev.as("rev"))
    val s = Kpis.table(spark, dir, "supplier")
      .select("s_suppkey", "s_nationkey")
    c.join(asiaNations, col("c_nationkey") === col("n_nationkey"))
      .join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(s, col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q68Sql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |       AS DOUBLE) AS revenue
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      |WHERE r_name = 'ASIA'
      |  AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
      |  AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  // --------------------------------------------------------------- q188
  /** Supplier-concentration risk per part — the Herfindahl–Hirschman
    * index of each part's lineitem volume across its suppliers, with
    * the top 20 most concentrated multi-supplier parts (ties broken by
    * part key). HHI = Σᵢ shareᵢ² ∈ (1/k, 1]: 1 means single-sourced;
    * procurement risk dashboards page when a revenue-critical part
    * drifts toward 1. Complements q65's key-skew profile (which finds
    * skewed JOIN keys; this finds skewed SUPPLY).
    *
    * Exactness: HHI is kept RATIONAL until the last op — Σcᵢ² and
    * (Σcᵢ)² are exact BIGINTs (per-(part, supplier) counts are far
    * below the ~3×10⁹ that would overflow a squared BIGINT), so the
    * index is ONE double division per part; the top-20 ranking orders
    * by that double (identical chains both sides, so ranks agree) with
    * the part key as tiebreak.
    *
    * Scale shape: one map-combinable agg to the (part, supplier)
    * census, one to the per-part sums, then TakeOrderedAndProject for
    * the top 20 — no full sort, no window. */
  def q188SupplierHhi(spark: SparkSession, dir: String): DataFrame = {
    val perSupp = Kpis.table(spark, dir, "lineitem")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(count(lit(1)).as("c"))
    perSupp
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("c")).as("n_lineitems"),
        sum(col("c") * col("c")).as("sc2"))
      .filter(col("n_suppliers") >= 2)
      .withColumn("hhi",
        col("sc2").cast("double") /
          (col("n_lineitems").cast("double") *
            col("n_lineitems").cast("double")))
      .orderBy(col("hhi").desc, col("l_partkey"))
      .limit(20)
      .select(col("l_partkey").as("p_partkey"), col("n_suppliers"),
        col("n_lineitems"), col("hhi"))
  }

  val q188Sql: String =
    """WITH per_supp AS (
      |  SELECT l_partkey, l_suppkey, COUNT(*) AS c
      |  FROM lineitem GROUP BY 1, 2),
      |per_part AS (
      |  SELECT l_partkey, COUNT(*) AS n_suppliers,
      |    CAST(SUM(c) AS BIGINT) AS n_lineitems,
      |    CAST(SUM(c * c) AS BIGINT) AS sc2
      |  FROM per_supp GROUP BY 1)
      |SELECT l_partkey AS p_partkey, n_suppliers, n_lineitems,
      |  CAST(sc2 AS DOUBLE) /
      |    (CAST(n_lineitems AS DOUBLE) * CAST(n_lineitems AS DOUBLE)) AS hhi
      |FROM per_part
      |WHERE n_suppliers >= 2
      |ORDER BY hhi DESC, l_partkey LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q202
  /** Dead-stock census: parts with NO shipment after the 2001-06-01
    * cutoff (the corpus's final months), per brand — count, share of
    * the brand's catalog, and the retail
    * value parked in them. The inventory-health anti-join (q16's
    * "customers without orders" pattern pointed at merchandising): a
    * brand whose dead share climbs is over-assorted, and the value
    * column is what a markdown plan is sized from.
    *
    * Exactness: the cutoff is a literal date predicate pushed into the
    * lineitem scan; counts are exact; dead_value is an exact decimal sum
    * cast once; the share is one double division.
    *
    * Scale shape: the recent-part key set collapses out of lineitem via
    * one DISTINCT (map-combinable) and anti-joins the part dim —
    * dim-sized build side, fact scanned once with the date filter
    * pushed; then a |brands| census. */
  def q202DeadStock(spark: SparkSession, dir: String): DataFrame = {
    val recent = Kpis.table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("2001-06-01 00:00:00")))
      .select(col("l_partkey")).distinct()
    val parts = Kpis.table(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"),
        col("p_retailprice").cast("decimal(18,4)").as("rp"))
    val dead = parts.join(recent, col("p_partkey") === col("l_partkey"),
      "left_anti")
    val perBrand = parts.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"))
    dead.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_dead"),
        sum(col("rp")).cast("double").as("dead_value"))
      .join(perBrand, "p_brand")
      .select(col("p_brand"), col("n_parts"), col("n_dead"),
        (col("n_dead").cast("double") / col("n_parts").cast("double"))
          .as("dead_share"),
        col("dead_value"))
      .orderBy("p_brand")
  }

  val q202Sql: String =
    """WITH recent AS (
      |  SELECT DISTINCT l_partkey FROM lineitem
      |  WHERE CAST(l_shipdate AS DATE) >= DATE '2001-06-01'),
      |dead AS (
      |  SELECT p_brand, CAST(p_retailprice AS DECIMAL(18,4)) AS rp
      |  FROM part WHERE p_partkey NOT IN (SELECT l_partkey FROM recent)),
      |per_brand AS (
      |  SELECT p_brand, COUNT(*) AS n_parts FROM part GROUP BY 1),
      |d AS (
      |  SELECT p_brand, COUNT(*) AS n_dead,
      |    CAST(SUM(rp) AS DOUBLE) AS dead_value
      |  FROM dead GROUP BY 1)
      |SELECT p_brand, n_parts, n_dead,
      |  CAST(n_dead AS DOUBLE) / CAST(n_parts AS DOUBLE) AS dead_share,
      |  dead_value
      |FROM d JOIN per_brand USING (p_brand)
      |ORDER BY p_brand""".stripMargin

  // --------------------------------------------------------------- q248
  /** Kendall-τ stability of the nation revenue league table between
    * 2000 and 2001: rank nations by order revenue in each year, count
    * concordant/discordant pairs, τ = (C − D)/(C + D). τ ≈ 1 means the
    * league table froze; low τ means the market reshuffled — the
    * single-number answer to "did this year change who our big
    * geographies are?" (q197 correlates LEVELS; τ compares ORDERINGS,
    * immune to scale drift).
    *
    * Exactness: yearly revenue is exact cents; ranks are deterministic
    * integers ((rev desc, nation) total order); C and D are exact pair
    * counts from the 25×25 census cross join; τ is one double
    * division, 6 dp, −0.0-guarded.
    *
    * Scale shape: fact → (nation, year) rollup via two broadcast dim
    * joins; ranking windows run per year over the 25-row nation
    * census; the pair count is a census×census join (≤|nations|²). */
  def q248RankStability(spark: SparkSession, dir: String): DataFrame = {
    val rev = Kpis.table(spark, dir, "orders")
      .filter(year(col("o_orderdate")).isin(2000, 2001))
      .join(Kpis.table(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"),
        year(col("o_orderdate")).as("y"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val w = Window.partitionBy(col("y"))
      .orderBy(col("cents").desc, col("nk"))
    val ranked = rev.withColumn("rk", row_number().over(w))
    val r0 = ranked.filter(col("y") === 2000)
      .select(col("nk"), col("rk").as("rk0"))
    val r1 = ranked.filter(col("y") === 2001)
      .select(col("nk").as("nk1"), col("rk").as("rk1"))
    val joined = r0.join(r1, col("nk") === col("nk1"))
      .select(col("nk"), col("rk0"), col("rk1"))
    val b = joined.select(col("nk").as("nkb"), col("rk0").as("rk0b"),
      col("rk1").as("rk1b"))
    joined.join(b, col("nk") < col("nkb"))
      .agg(
        sum(when((col("rk0") < col("rk0b")) === (col("rk1") < col("rk1b")),
          1L).otherwise(0L)).as("concordant"),
        sum(when((col("rk0") < col("rk0b")) =!= (col("rk1") < col("rk1b")),
          1L).otherwise(0L)).as("discordant"))
      .select(col("concordant"), col("discordant"),
        (round(
          (col("concordant") - col("discordant")).cast("double") /
            (col("concordant") + col("discordant")).cast("double"), 6) +
          lit(0.0)).as("kendall_tau"))
  }

  val q248Sql: String =
    """WITH rev AS (
      |  SELECT c_nationkey AS nk, year(o_orderdate) AS y,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE year(o_orderdate) IN (2000, 2001)
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT nk, y, CAST(row_number() OVER (
      |    PARTITION BY y ORDER BY cents DESC, nk) AS BIGINT) AS rk
      |  FROM rev),
      |j AS (
      |  SELECT r0.nk, r0.rk AS rk0, r1.rk AS rk1
      |  FROM (SELECT nk, rk FROM ranked WHERE y = 2000) r0
      |  JOIN (SELECT nk, rk FROM ranked WHERE y = 2001) r1
      |    ON r0.nk = r1.nk),
      |p AS (
      |  SELECT a.rk0 < b.rk0 AS c0, a.rk1 < b.rk1 AS c1
      |  FROM j a JOIN j b ON a.nk < b.nk),
      |s AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN c0 = c1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS concordant,
      |    CAST(SUM(CASE WHEN c0 <> c1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS discordant
      |  FROM p)
      |SELECT concordant, discordant,
      |  round(CAST(concordant - discordant AS DOUBLE) /
      |    CAST(concordant + discordant AS DOUBLE), 6) + 0.0
      |    AS kendall_tau
      |FROM s""".stripMargin

  // --------------------------------------------------------------- q266
  /** Supplier reliability league table by the Wilson-score LOWER bound
    * of the on-time rate (shipped ≤ 365 days after order, the library's
    * q159 lateness convention), z = 1.96. The ranking statistic a naive
    * rate gets wrong: a supplier with 3/3 on-time outranks one with
    * 96/100 by raw rate, but the Wilson bound (what we can CLAIM at 95%
    * confidence given n) puts the experienced supplier first —
    * exactly the small-sample correction procurement scorecards and
    * review-site rankings use.
    *
    * Exactness: n and k are exact counts from one agg over the
    * lineitem↔orders join; the Wilson chain is one double expression
    * on (k, n) spelled identically in both engines, 6-dp-rounded
    * (−0.0-guarded); the ordering is total (bound DESC, suppkey).
    *
    * Scale shape: the fact join shuffles once on orderkey (both sides
    * co-keyed), collapses map-combinably to the supplier entity table;
    * the name join is a broadcast. No window. */
  def q266WilsonReliability(spark: SparkSession, dir: String): DataFrame = {
    val o = Kpis.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"))
    val onTime = col("l_shipdate") <=
      col("o_orderdate") + expr("INTERVAL 365 DAYS")
    val st = Kpis.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(onTime, 1L).otherwise(0L)).as("k_ontime"))
    val n = col("n_items").cast("double")
    val p = col("k_ontime").cast("double") / n
    val z2 = lit(1.96) * lit(1.96)
    val lb = (p + z2 / (lit(2.0) * n) -
      lit(1.96) * sqrt((p * (lit(1.0) - p) + z2 / (lit(4.0) * n)) / n)) /
      (lit(1.0) + z2 / n)
    st.join(broadcast(Kpis.table(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_items"),
        col("k_ontime"),
        (round(p, 6) + lit(0.0)).as("ontime_rate"),
        (round(lb, 6) + lit(0.0)).as("wilson_lb"))
      .orderBy(col("wilson_lb").desc, col("s_suppkey"))
  }

  val q266Sql: String =
    """WITH st AS (
      |  SELECT l_suppkey, COUNT(*) AS n_items,
      |    CAST(SUM(CASE WHEN l_shipdate <=
      |        o_orderdate + INTERVAL 365 DAY THEN 1 ELSE 0 END)
      |      AS BIGINT) AS k_ontime
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1),
      |w AS (
      |  SELECT l_suppkey, n_items, k_ontime,
      |    CAST(k_ontime AS DOUBLE) / CAST(n_items AS DOUBLE) AS p,
      |    CAST(n_items AS DOUBLE) AS n
      |  FROM st)
      |SELECT s_suppkey, s_name, n_items, k_ontime,
      |  round(p, 6) + 0.0 AS ontime_rate,
      |  round((p + 1.96 * 1.96 / (2.0 * n) -
      |      1.96 * sqrt((p * (1.0 - p) + 1.96 * 1.96 / (4.0 * n)) / n)) /
      |    (1.0 + 1.96 * 1.96 / n), 6) + 0.0 AS wilson_lb
      |FROM w JOIN supplier ON l_suppkey = s_suppkey
      |ORDER BY wilson_lb DESC, s_suppkey""".stripMargin

  // --------------------------------------------------------------- q282
  /** Order shipment-spread census: days between an order's FIRST and
    * LAST line shipment, bucketed (same-day / within-week / within-
    * month / longer), with per-bucket order counts, share, and mean
    * line count. The fulfillment-fragmentation KPI between q145's
    * lead-time percentiles (how LATE) and q221's reconciliation (how
    * COMPLETE): a fat "longer" bucket with high lines-per-order means
    * orders ship piecemeal — each line a separate delivery cost and a
    * separate customer touch.
    *
    * Exactness: spreads are exact day integers from one per-order
    * min/max agg; buckets are integer CASE cuts; share and mean are
    * closing double divisions, 6-dp-rounded.
    *
    * Scale shape: one map-combinable per-order agg off the scan, then
    * a 4-row census. No join, no window. */
  def q282ShipmentSpread(spark: SparkSession, dir: String): DataFrame = {
    val perOrder = Kpis.table(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
        datediff(max(to_date(col("l_shipdate"))),
          min(to_date(col("l_shipdate")))).as("spread"))
    val bucket = when(col("spread") === 0, "0_same_day")
      .when(col("spread") <= 7, "1_within_week")
      .when(col("spread") <= 30, "2_within_month")
      .otherwise("3_longer")
    perOrder
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n_orders"), sum(col("n_lines")).as("n_lines"))
      .withColumn("n_total",
        sum(col("n_orders")).over(Window.partitionBy()))
      .select(col("bucket"), col("n_orders"),
        (round(col("n_orders").cast("double") /
          col("n_total").cast("double"), 6) + lit(0.0)).as("share"),
        (round(col("n_lines").cast("double") /
          col("n_orders").cast("double"), 6) + lit(0.0))
          .as("avg_lines_per_order"))
      .orderBy("bucket")
  }

  val q282Sql: String =
    """WITH po AS (
      |  SELECT l_orderkey, COUNT(*) AS n_lines,
      |    datediff('day', MIN(CAST(l_shipdate AS DATE)),
      |      MAX(CAST(l_shipdate AS DATE))) AS spread
      |  FROM lineitem GROUP BY 1),
      |b AS (
      |  SELECT CASE WHEN spread = 0 THEN '0_same_day'
      |    WHEN spread <= 7 THEN '1_within_week'
      |    WHEN spread <= 30 THEN '2_within_month'
      |    ELSE '3_longer' END AS bucket, n_lines
      |  FROM po),
      |c AS (
      |  SELECT bucket, COUNT(*) AS n_orders,
      |    CAST(SUM(n_lines) AS BIGINT) AS n_lines
      |  FROM b GROUP BY 1),
      |m AS (SELECT bucket, n_orders, n_lines,
      |  SUM(n_orders) OVER () AS n_total FROM c)
      |SELECT bucket, n_orders,
      |  round(CAST(n_orders AS DOUBLE) / CAST(n_total AS DOUBLE), 6) + 0.0
      |    AS share,
      |  round(CAST(n_lines AS DOUBLE) / CAST(n_orders AS DOUBLE), 6) + 0.0
      |    AS avg_lines_per_order
      |FROM m ORDER BY bucket""".stripMargin

  // --------------------------------------------------------------- q318
  /** Yearly open-order BACKLOG profile via a sweep line: an order is
    * OPEN from its order date through its LAST line shipment (the
    * fixture's lineitem carries l_shipdate as the fulfillment date).
    * Fulfillment recorded BEFORE the order date (the fixture's
    * generator draws the two dates independently; ~20% of orders) is
    * clamped to a same-day close — an order is open at least on its
    * order day, and the clamp keeps the sweep's +1/−1 ledger exact
    * instead of letting inverted spans drive the running count
    * negative. Interval counting is
    * done the warehouse way — each order contributes a +1 boundary at
    * open and a −1 boundary the day AFTER close; the running sum of the
    * per-day net deltas over the date census IS the daily backlog, and
    * because the series is piecewise constant between boundaries, the
    * change-point values (plus the carry-in level from the prior year)
    * witness every yearly extreme exactly. Reported per year: number of
    * change days, start/close flows, opening level (carry-in), peak
    * (greatest of carry-in and any within-year value), closing level.
    *
    * Exactness: ALL-integer — boundary counts, running sums, min_by/
    * max_by on the unique census date; no division anywhere.
    *
    * Scale shape: one per-order max(receipt) agg + one boundary agg off
    * the fact scans; the ONLY window runs over the boundary-date census,
    * bounded by the date DOMAIN (|days in range|+1, ~2.5k for 7 years)
    * — never by row count. Orders without lines never open (inner join;
    * none exist in the fixture, asserted in the spec). */
  def q318OrderBacklog(spark: SparkSession, dir: String): DataFrame = {
    val closes = Kpis.table(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(max(to_date(col("l_shipdate"))).as("closed"))
    val spans = Kpis.table(spark, dir, "orders")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("opened"))
      .join(closes, col("o_orderkey") === col("l_orderkey"))
      .select(col("opened"),
        greatest(col("closed"), col("opened")).as("closed"))
    val bounds = spans.select(col("opened").as("d"), lit(1L).as("delta"))
      .unionAll(spans.select(date_add(col("closed"), 1).as("d"),
        lit(-1L).as("delta")))
    val census0 = bounds.groupBy(col("d")).agg(
      sum(col("delta")).as("net"),
      sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("starts"),
      sum(when(col("delta") === -1L, 1L).otherwise(0L)).as("ends"))
    // global window over the date-domain-bounded census (WindowGuardSpec)
    val census = census0.withColumn("backlog",
      sum(col("net")).over(Window.orderBy(col("d"))))
    census.groupBy(year(col("d")).as("yr")).agg(
        count(lit(1)).as("n_change_days"),
        sum(col("starts")).as("starts"),
        sum(col("ends")).as("ends"),
        min_by(col("backlog") - col("net"), col("d")).as("opening"),
        max(col("backlog")).as("mx"),
        max_by(col("backlog"), col("d")).as("closing"))
      .select(col("yr"), col("n_change_days"), col("starts"), col("ends"),
        col("opening"), greatest(col("opening"), col("mx")).as("peak"),
        col("closing"))
      .orderBy("yr")
  }

  val q318Sql: String =
    """WITH closes AS (
      |  SELECT l_orderkey AS k, MAX(CAST(l_shipdate AS DATE)) AS closed
      |  FROM lineitem GROUP BY 1),
      |spans AS (
      |  SELECT CAST(o_orderdate AS DATE) AS opened,
      |    GREATEST(closed, CAST(o_orderdate AS DATE)) + 1 AS ended
      |  FROM orders JOIN closes ON o_orderkey = k),
      |census0 AS (
      |  SELECT d, CAST(SUM(delta) AS BIGINT) AS net,
      |    CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS starts,
      |    CAST(SUM(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS ends
      |  FROM (SELECT opened AS d, 1 AS delta FROM spans
      |        UNION ALL SELECT ended, -1 FROM spans)
      |  GROUP BY 1),
      |census AS (
      |  SELECT d, net, starts, ends,
      |    CAST(SUM(net) OVER (ORDER BY d) AS BIGINT) AS backlog
      |  FROM census0)
      |SELECT CAST(year(d) AS INT) AS yr,
      |  COUNT(*) AS n_change_days,
      |  CAST(SUM(starts) AS BIGINT) AS starts,
      |  CAST(SUM(ends) AS BIGINT) AS ends,
      |  CAST(MIN_BY(backlog - net, d) AS BIGINT) AS opening,
      |  CAST(GREATEST(MIN_BY(backlog - net, d), MAX(backlog)) AS BIGINT)
      |    AS peak,
      |  CAST(MAX_BY(backlog, d) AS BIGINT) AS closing
      |FROM census GROUP BY 1 ORDER BY 1""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q318_order_backlog", q318OrderBacklog _, q318Sql),
    Query("q282_shipment_spread", q282ShipmentSpread _, q282Sql),
    Query("q266_wilson_reliability", q266WilsonReliability _, q266Sql),
    Query("q248_rank_stability", q248RankStability _, q248Sql),
    Query("q67_shipping_priority", q67ShippingPriority _, q67Sql),
    Query("q68_local_supplier_volume", q68LocalSupplierVolume _, q68Sql),
    Query("q188_supplier_hhi", q188SupplierHhi _, q188Sql),
    Query("q202_dead_stock", q202DeadStock _, q202Sql))
}
