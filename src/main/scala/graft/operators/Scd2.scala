package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.ExactMath.r6
import graft.queries.Kpis

/** SCD type-2 history builder — collapses a per-key ordered attribute
  * stream into validity intervals (the "gaps and islands" rewrite of a
  * slowly-changing-dimension merge). The reference's warehouse loads
  * overwrite dimension rows in place (`load_postgres.py` upsert semantics,
  * see sink/Upsert.scala); this is the companion operator a warehouse needs
  * to RETAIN history instead: each run of consecutive equal attribute
  * values per key becomes one row with [valid_from, valid_to) bounds and a
  * version number.
  *
  * Scale posture: one hash shuffle on the key for the run-detection window
  * (lag + running sum share the same partitioning/sort, so Catalyst plans
  * them in a single Window exec over one Exchange); the groupBy that
  * collapses runs emits one row per run, so its exchange moves interval
  * rows, not the input. No total order, no driver loops — keys process
  * independently, exactly how a dimension-history build must behave on a
  * 100 TB fact stream.
  */
object Scd2 {

  /** One row per (key, run of consecutive equal `attr` values) when rows
    * are ordered by (`ord`, `tie`) within the key. `tie` must make the
    * order total or run boundaries are nondeterministic. NULL `attr` is
    * treated as a run-breaker both entering and leaving (matches SQL
    * IS DISTINCT FROM semantics via the explicit null checks).
    */
  def collapse(df: DataFrame, key: Column, ord: Column, tie: Column,
               attr: Column): DataFrame = {
    // rename FIRST, then window over the renamed frame — window exprs built
    // against the caller's columns would not resolve after the select
    val base = df.select(key.as("k"), ord.as("o"), tie.as("t"), attr.as("a"))
    val w = Window.partitionBy(col("k")).orderBy(col("o"), col("t"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col("a"), 1).over(w)
    val changed = when(
      prev.isNull && col("a").isNull, lit(0)) // null run continues
      .when(prev.isNull || col("a").isNull || prev =!= col("a"), lit(1))
      .otherwise(lit(0))
    base
      .withColumn("version", sum(changed).over(cum))
      .groupBy(col("k"), col("version"))
      .agg(
        // all rows in a run share the attribute value by construction
        min(col("a")).as("value"),
        min(col("o")).as("valid_from"),
        count(lit(1)).as("n_rows"))
  }

  /** q54: order-priority history per customer — each customer's stream of
    * orders (by order date, order key as tiebreak) collapsed into SCD2
    * intervals of constant o_orderpriority. valid_to is the next
    * interval's valid_from, with an explicit far-future sentinel for the
    * open current interval (a sentinel, not NULL, so the driver's
    * hash-compare is unambiguous cross-engine). */
  def q54PriorityScd2(spark: SparkSession, dir: String): DataFrame = {
    val o = Kpis.table(spark, dir, "orders")
    val runs = collapse(
      o,
      key = col("o_custkey"),
      ord = to_date(col("o_orderdate")),
      tie = col("o_orderkey"),
      attr = col("o_orderpriority"))
    val byVersion = Window.partitionBy(col("k")).orderBy(col("version"))
    runs
      .withColumn("valid_to",
        coalesce(lead(col("valid_from"), 1).over(byVersion),
          to_date(lit("9999-12-31"))))
      .select(
        col("k").as("custkey"),
        col("version"),
        col("value").as("priority"),
        col("valid_from"),
        col("valid_to"),
        col("n_rows").as("n_orders"))
      .orderBy("custkey", "version")
  }

  /** The q54 history build as a reusable oracle CTE prefix (`scd` is the
    * interval table), shared by the q54 dump and the q171 as-of probe. */
  private val scd2Cte: String =
    """WITH o AS (
      |  SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS od,
      |         o_orderkey AS ok, o_orderpriority AS pr
      |  FROM orders),
      |f AS (
      |  SELECT *, CASE WHEN pr IS DISTINCT FROM
      |                      lag(pr) OVER (PARTITION BY k ORDER BY od, ok)
      |                 THEN 1 ELSE 0 END AS chg
      |  FROM o),
      |v AS (
      |  SELECT *, SUM(chg) OVER (PARTITION BY k ORDER BY od, ok
      |                           ROWS UNBOUNDED PRECEDING) AS version
      |  FROM f),
      |g AS (
      |  SELECT k, version, MIN(pr) AS priority, MIN(od) AS valid_from,
      |         COUNT(*) AS n_orders
      |  FROM v GROUP BY k, version),
      |scd AS (
      |  SELECT k AS custkey, CAST(version AS BIGINT) AS version, priority,
      |    valid_from,
      |    COALESCE(LEAD(valid_from) OVER (PARTITION BY k ORDER BY version),
      |             DATE '9999-12-31') AS valid_to,
      |    CAST(n_orders AS BIGINT) AS n_orders
      |  FROM g)
      |""".stripMargin

  // --------------------------------------------------------------- q171
  /** Point-in-time (as-of) reconstruction from the q54 SCD2 history: the
    * state every tracked customer was in on 1997-06-01, summarized per
    * priority — how many customers were "in" each priority that day, how
    * many had already changed at least once (version > 1), and the
    * total orders carried by the as-of intervals. THE reason a warehouse
    * keeps SCD2 instead of upsert-in-place is exactly this query: "what
    * did the dimension look like on day X".
    *
    * Semantics: interval membership is the half-open [valid_from,
    * valid_to) the builder emits, so a customer whose priority changed ON
    * the probe day counts under the NEW value — and customers whose
    * first order is after the probe day simply have no interval covering
    * it (they did not exist in the dimension yet).
    *
    * Scale shape: the history build is q54's (one key-partitioned window
    * + run-collapse agg); the as-of filter is a per-row predicate on the
    * interval frame (no join — the probe date is a literal), and the
    * summary is one map-combinable agg to ≤|priorities| rows. At 100 TB
    * the interval table is the compact artifact (one row per run, not
    * per order) — the snapshot never touches the fact table. */
  def q171Scd2Asof(spark: SparkSession, dir: String): DataFrame = {
    val asOf = to_date(lit("1997-06-01"))
    q54PriorityScd2(spark, dir)
      .filter(col("valid_from") <= asOf && col("valid_to") > asOf)
      .groupBy(col("priority"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(when(col("version") > 1, lit(1L)).otherwise(lit(0L)))
          .as("n_changed_before"),
        sum(col("n_orders")).as("orders_in_interval"))
      .orderBy("priority")
  }

  val q171Sql: String = scd2Cte +
    """SELECT priority, COUNT(*) AS n_customers,
      |  CAST(SUM(CASE WHEN version > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_changed_before,
      |  CAST(SUM(n_orders) AS BIGINT) AS orders_in_interval
      |FROM scd
      |WHERE valid_from <= DATE '1997-06-01'
      |  AND valid_to > DATE '1997-06-01'
      |GROUP BY priority ORDER BY priority""".stripMargin

  // --------------------------------------------------------------- q413
  /** Time-travel retention / GC planner over the q54 SCD2 history — the
    * lifecycle decision every versioned warehouse table needs: a
    * superseded version can be garbage-collected only once its entire
    * validity interval has fallen out of the time-travel horizon (no
    * as-of query within the last R days can land inside it). For R ∈
    * {7, 30, 90, 365} days behind the history's high-water date: the
    * GC-able version count and share, the live (open-interval) versions
    * a GC must never touch, and the order-row mass carried by the
    * GC-able versions — the rewrite bill a vacuum pass would pay.
    * The q380 deletion-cost audit prices ONE targeted erasure; this
    * prices the standing retention policy.
    *
    * Semantics: "now" is max(valid_from) over the history (the last
    * recorded change); a version is GC-able iff it is closed (its
    * valid_to is not the far-future sentinel) AND valid_to <
    * now − R — strictly before the horizon, so an as-of probe AT the
    * horizon still resolves. Live versions are horizon-independent.
    *
    * Exactness: all date arithmetic and counts are integers; each share
    * is ONE 6-dp-snapped division.
    *
    * Scale shape: the history build is q54's (one key-partitioned
    * window + run collapse — one row per run, never per order); "now"
    * is a broadcast 1-row max; all four horizons ride ONE map-
    * combinable aggregate (the q382/q395 one-pass-sweep discipline)
    * and a 4-row stack. */
  def q413RetentionPlan(spark: SparkSession, dir: String): DataFrame = {
    val horizons = Seq(7, 30, 90, 365)
    val sentinel = to_date(lit("9999-12-31"))
    val scd = q54PriorityScd2(spark, dir)
    val now = scd.agg(max(col("valid_from")).as("now"))
    val exprs = Seq(count(lit(1)).as("n_versions"),
        sum(when(col("valid_to") === sentinel, 1L).otherwise(0L))
          .as("n_live"),
        sum(col("n_orders")).as("orders_total")) ++
      horizons.flatMap(r => Seq(
        sum(when(col("valid_to") =!= sentinel &&
          col("valid_to") < date_sub(col("now"), r), 1L).otherwise(0L))
          .as(s"gc_$r"),
        sum(when(col("valid_to") =!= sentinel &&
          col("valid_to") < date_sub(col("now"), r), col("n_orders"))
          .otherwise(0L)).as(s"go_$r")))
    val a = scd.crossJoin(broadcast(now)).agg(exprs.head, exprs.tail: _*)
    a.select(col("n_versions"), col("n_live"), col("orders_total"), expr(
        s"stack(${horizons.length}, " + horizons.map(r =>
          s"${r}L, gc_$r, go_$r").mkString(", ") +
          ") as (retention_days, gc_versions, gc_orders)"))
      .select(col("retention_days"), col("n_versions"), col("n_live"),
        col("gc_versions"),
        (col("n_versions") - col("gc_versions")).as("retained_versions"),
        r6(col("gc_versions").cast("double") /
          col("n_versions").cast("double")).as("gc_share"),
        col("gc_orders"),
        r6(col("gc_orders").cast("double") /
          col("orders_total").cast("double")).as("gc_order_share"))
      .orderBy("retention_days")
  }

  val q413Sql: String = scd2Cte +
    """, now AS (SELECT MAX(valid_from) AS now FROM scd),
      |r(retention_days) AS (
      |  VALUES (CAST(7 AS BIGINT)), (30), (90), (365)),
      |per AS (
      |  SELECT retention_days,
      |    COUNT(*) AS n_versions,
      |    CAST(SUM(CASE WHEN valid_to = DATE '9999-12-31'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
      |    CAST(SUM(n_orders) AS BIGINT) AS orders_total,
      |    CAST(SUM(CASE WHEN valid_to <> DATE '9999-12-31'
      |      AND valid_to < now - CAST(retention_days AS INTEGER)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS gc_versions,
      |    CAST(SUM(CASE WHEN valid_to <> DATE '9999-12-31'
      |      AND valid_to < now - CAST(retention_days AS INTEGER)
      |      THEN n_orders ELSE 0 END) AS BIGINT) AS gc_orders
      |  FROM scd CROSS JOIN now CROSS JOIN r GROUP BY 1)
      |SELECT retention_days, n_versions, n_live, gc_versions,
      |  n_versions - gc_versions AS retained_versions,
      |  round(CAST(gc_versions AS DOUBLE) / CAST(n_versions AS DOUBLE),
      |    6) + 0.0 AS gc_share,
      |  gc_orders,
      |  round(CAST(gc_orders AS DOUBLE) / CAST(orders_total AS DOUBLE),
      |    6) + 0.0 AS gc_order_share
      |FROM per ORDER BY retention_days""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q54_priority_scd2", q54PriorityScd2 _,
      (scd2Cte + "SELECT * FROM scd ORDER BY custkey, version")),
    Query("q413_retention_plan", q413RetentionPlan _, q413Sql),
    Query("q171_scd2_asof", q171Scd2Asof _, q171Sql))
}
