package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query

/** Ordered-funnel and cohort-retention analytics over the event stream —
  * the two product-analytics primitives (beside q34's sessionization and
  * q75's attribution) every event warehouse is asked for.
  */
object FunnelQueries {

  // ---------------------------------------------------------------- q86
  /** Strictly-ordered view→click→purchase funnel: a user clears stage 2
    * only with a click STRICTLY AFTER their first view, stage 3 only
    * with a purchase strictly after that click. Computed as a cascade of
    * per-user min-timestamp aggregates — each stage is one selective
    * scan (event_type is a PushedFilter) joined to the previous stage's
    * user-sized frame, never a per-user event-sequence sort: the window
    * formulation would shuffle and sort the WHOLE stream; this shape
    * shuffles one row per qualifying user per stage.
    *
    * Output: one row per stage with user counts and the conversion rate
    * from stage 1 (exact integer counts; one double division). */
  def q86Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Kpis.eventsTable(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    def stage(df: DataFrame, n: Int, label: String) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(n).as("stage"), lit(label).as("step"), col("n_users"))
    val out = stage(v, 1, "view")
      .unionAll(stage(c, 2, "view>click"))
      .unionAll(stage(p, 3, "view>click>purchase"))
    val base = v.agg(count(lit(1)).as("n_base"))
    out.crossJoin(broadcast(base))
      .select(col("stage"), col("step"), col("n_users"),
        (col("n_users").cast("double") / col("n_base").cast("double"))
          .as("conversion"))
      .orderBy("stage")
  }

  val q86Sql: String =
    """WITH v AS (
      |  SELECT user_id, MIN(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, MIN(e.ts) AS t2
      |  FROM events e JOIN v USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, MIN(e.ts) AS t3
      |  FROM events e JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1),
      |stages AS (
      |  SELECT 1 AS stage, 'view' AS step, COUNT(*) AS n_users FROM v
      |  UNION ALL
      |  SELECT 2, 'view>click', COUNT(*) FROM c
      |  UNION ALL
      |  SELECT 3, 'view>click>purchase', COUNT(*) FROM p),
      |base AS (SELECT COUNT(*) AS n_base FROM v)
      |SELECT stage, step, CAST(n_users AS BIGINT) AS n_users,
      |  CAST(n_users AS DOUBLE) / CAST(n_base AS DOUBLE) AS conversion
      |FROM stages CROSS JOIN base
      |ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------- q87
  /** Weekly cohort retention: users grouped by their first-activity week
    * (date_trunc 'week' — Monday starts in both engines), counted in
    * every later week they re-appear, as (cohort_week, week_offset)
    * cells with the retention rate against the cohort's size.
    *
    * Scale shape: one distinct over (user, week) — the only
    * corpus-sized shuffle; the first-seen reduction and the cohort-size
    * join are user- and cohort-sized. Offsets are exact integer
    * day-diffs / 7; the rate is one double division. */
  def q87Retention(spark: SparkSession, dir: String): DataFrame = {
    val weeks = Kpis.eventsTable(spark, dir)
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("week"))
      .distinct()
    val cohort = weeks.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    val sizes = cohort.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    weeks.join(cohort, "user_id")
      .select(col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / lit(7))
          .cast("int").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .join(sizes, "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_users"),
        (col("n_users").cast("double") / col("cohort_size").cast("double"))
          .as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  val q87Sql: String =
    """WITH weeks AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_trunc('week', ts) AS DATE) AS week
      |  FROM events),
      |cohort AS (
      |  SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY 1),
      |sizes AS (
      |  SELECT cohort_week, COUNT(*) AS cohort_size FROM cohort GROUP BY 1),
      |cells AS (
      |  SELECT cohort_week,
      |    CAST(date_diff('day', cohort_week, week) / 7 AS INTEGER)
      |      AS week_offset,
      |    COUNT(*) AS n_users
      |  FROM weeks JOIN cohort USING (user_id)
      |  GROUP BY 1, 2)
      |SELECT cohort_week, week_offset, CAST(n_users AS BIGINT) AS n_users,
      |  CAST(n_users AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
      |FROM cells JOIN sizes USING (cohort_week)
      |ORDER BY cohort_week, week_offset""".stripMargin

  // ---------------------------------------------------------------- q93
  /** Time-to-convert distribution: for every user who cleared q86's full
    * funnel, the view→purchase latency in whole seconds, reduced to
    * count / mean / exact percentiles (p50/p90) / max. Latencies are
    * exact integer second differences; the mean is one double division;
    * the percentiles use the q37/q70-proven interpolation parity
    * (Spark `percentile` ≡ DuckDB `quantile_cont`). Plan shape: the q86
    * cascade (selective scans + user-sized joins) feeding one global
    * aggregate — the percentile's single-reducer reduction is over ONE
    * row per converted user, not the event stream. */
  def q93ConversionLatency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Kpis.eventsTable(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"), min(col("t1")).as("t1"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"), min(col("t1")).as("t1"))
    p.select((col("t3").cast("long") - col("t1").cast("long")).as("dt"))
      .agg(
        count(lit(1)).as("n_converted"),
        (sum(col("dt")).cast("double") / count(lit(1))).as("mean_sec"),
        expr("percentile(dt, 0.5)").as("p50_sec"),
        expr("percentile(dt, 0.9)").as("p90_sec"),
        max(col("dt")).as("max_sec"))
  }

  val q93Sql: String =
    """WITH v AS (
      |  SELECT user_id, MIN(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, MIN(e.ts) AS t2, MIN(v.t1) AS t1
      |  FROM events e JOIN v USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, MIN(e.ts) AS t3, MIN(c.t1) AS t1
      |  FROM events e JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1),
      |dt AS (
      |  SELECT CAST(floor(epoch(t3)) AS BIGINT)
      |    - CAST(floor(epoch(t1)) AS BIGINT) AS dt
      |  FROM p)
      |SELECT COUNT(*) AS n_converted,
      |  CAST(CAST(SUM(dt) AS BIGINT) AS DOUBLE) / COUNT(*) AS mean_sec,
      |  quantile_cont(dt, 0.5) AS p50_sec,
      |  quantile_cont(dt, 0.9) AS p90_sec,
      |  MAX(dt) AS max_sec
      |FROM dt""".stripMargin

  // --------------------------------------------------------------- q146
  /** Cohort LTV curves: customers grouped by first-order month, and for
    * each months-since-acquisition k the CUMULATIVE revenue per cohort
    * member — q87's retention matrix with money attached (retention
    * answers "how many come back"; LTV answers "what are they worth by
    * month k", which is what an acquisition budget is set against).
    *
    * Scale shape: cohort assignment is one hash agg on customer; the
    * (cohort, k) revenue cells are a second map-combinable agg; the
    * cumulative window then runs over the ≤|months|² CELL table, never
    * the orders. Exact decimal revenue all the way to one double
    * division per output row.
    *
    * Exactness: month arithmetic stays on month-truncated DATES —
    * months_between of first-of-month dates is integral (.0 exact) —
    * and both engines count month boundaries identically there. */
  def q146CohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val o = Kpis.table(spark, dir, "orders")
      .select(col("o_custkey"),
        to_date(date_trunc("month", col("o_orderdate"))).as("om"),
        col("o_totalprice").cast("decimal(18,4)").as("p"))
    val cohort = o.groupBy(col("o_custkey")).agg(min(col("om")).as("cm"))
    val cells = o.join(cohort, "o_custkey")
      .groupBy(col("cm"),
        months_between(col("om"), col("cm")).cast("long").as("k"))
      .agg(sum(col("p")).as("rev"), count(lit(1)).as("n_orders"))
    val sizes = cohort.groupBy(col("cm")).agg(count(lit(1)).as("n_customers"))
    val cum = Window.partitionBy(col("cm")).orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.join(sizes, "cm")
      .withColumn("cumrev", sum(col("rev")).over(cum))
      .select(
        date_format(col("cm"), "yyyy-MM").as("cohort_month"),
        col("k"), col("n_orders"), col("n_customers"),
        (col("cumrev").cast("double") / col("n_customers").cast("double"))
          .as("ltv_per_customer"))
      .orderBy("cohort_month", "k")
  }

  val q146Sql: String =
    """WITH o AS (
      |  SELECT o_custkey,
      |    date_trunc('month', CAST(o_orderdate AS DATE)) AS om,
      |    CAST(o_totalprice AS DECIMAL(18,4)) AS p
      |  FROM orders),
      |cohort AS (SELECT o_custkey, MIN(om) AS cm FROM o GROUP BY 1),
      |cells AS (
      |  SELECT cm, CAST(datediff('month', cm, om) AS BIGINT) AS k,
      |    SUM(p) AS rev, COUNT(*) AS n_orders
      |  FROM o JOIN cohort USING (o_custkey) GROUP BY 1, 2),
      |sizes AS (SELECT cm, COUNT(*) AS n_customers FROM cohort GROUP BY 1),
      |cum AS (
      |  SELECT cm, k, n_orders,
      |    SUM(rev) OVER (PARTITION BY cm ORDER BY k
      |                   ROWS UNBOUNDED PRECEDING) AS cumrev
      |  FROM cells)
      |SELECT strftime(cm, '%Y-%m') AS cohort_month, k, n_orders,
      |  n_customers,
      |  CAST(cumrev AS DOUBLE) / CAST(n_customers AS DOUBLE)
      |    AS ltv_per_customer
      |FROM cum JOIN sizes USING (cm)
      |ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q192
  /** Kaplan–Meier survival curve for the first→second order gap, with
    * right-censoring: customers who never ordered twice are censored at
    * the corpus horizon instead of being dropped (dropping them — what
    * a naive "average days to repeat" does, q93's latency stat — biases
    * the estimate toward fast repeaters). S(t) = Π_{u≤t} (1 − dᵤ/nᵤ)
    * over event days u, the standard estimator for "what fraction of
    * customers have NOT repeat-purchased by day t". Reported on event
    * days ≤ 60.
    *
    * Exactness: the (day, events, censored) census is exact integers;
    * the at-risk count nᵤ is an integer window sum over the census;
    * each ln(1 − d/n) term snaps to the 9-dp grid (q137), the running
    * product is exp of an EXACT decimal prefix sum, and exp is one
    * final double op per row. n > d on every emitted day by
    * construction (censored-only tail days carry d = 0 and never reach
    * ln(0); the largest event day has later censors at risk).
    *
    * Scale shape: orders collapse to the per-customer (first, second)
    * frame in one agg; the census is |distinct gap days| rows and every
    * window runs over it (WindowGuard bound). */
  def q192KaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    val o = Kpis.table(spark, dir, "orders")
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("od"))
    val mx = o.agg(max(col("od")).as("corpus_max"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("od"))
    val perCust = o
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col("o_custkey"))
      .agg(min(col("od")).as("first_od"),
        max(when(col("rn") === 2, col("od"))).as("second_od"))
      .crossJoin(broadcast(mx))
      .select(
        when(col("second_od").isNotNull,
          datediff(col("second_od"), col("first_od")))
          .otherwise(datediff(col("corpus_max"), col("first_od"))).as("t"),
        col("second_od").isNotNull.as("event"))
    val census = perCust.groupBy(col("t"))
      .agg(sum(when(col("event"), 1L).otherwise(0L)).as("d"),
        sum(when(!col("event"), 1L).otherwise(0L)).as("c"))
    val byT = Window.orderBy(col("t"))
    val prior = byT.rowsBetween(Window.unboundedPreceding, -1)
    val cumLn = byT.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    census
      .withColumn("n_at_risk",
        sum(col("d") + col("c")).over(Window.partitionBy()) -
          coalesce(sum(col("d") + col("c")).over(prior), lit(0L)))
      // d = n_at_risk happens only on the TERMINAL census day (survival
      // hits exactly 0, far beyond the 60-day report window) — guard it
      // or the oracle's ln(0) errors where Spark's log returns NULL
      .withColumn("ln_term",
        when(col("d") > 0 && col("d") < col("n_at_risk"),
          graft.functions.ExactMath.ln9(
            lit(1.0) - col("d").cast("double") /
              col("n_at_risk").cast("double")))
          .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(12,9)")))
      // exp is libm (not correctly rounded) — a 1-ulp engine skew is
      // real; the 6-dp output rounding is the q115 absorb convention
      .withColumn("survival", round(exp(sum(col("ln_term")).over(cumLn)
        .cast("double")), 6))
      .filter(col("d") > 0 && col("t") <= 60)
      .select(col("t").cast("long").as("gap_days"), col("n_at_risk"),
        col("d").as("events"),
        col("c").as("censored"), col("survival"))
      .orderBy("gap_days")
  }

  val q192Sql: String =
    """WITH o AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od FROM orders),
      |mx AS (SELECT MAX(od) AS corpus_max FROM o),
      |r AS (
      |  SELECT o_custkey, od,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY od) AS rn
      |  FROM o),
      |pc AS (
      |  SELECT o_custkey, MIN(od) AS first_od,
      |    MAX(CASE WHEN rn = 2 THEN od END) AS second_od
      |  FROM r WHERE rn <= 2 GROUP BY 1),
      |t AS (
      |  SELECT CASE WHEN second_od IS NOT NULL
      |              THEN date_diff('day', first_od, second_od)
      |              ELSE date_diff('day', first_od, corpus_max) END AS t,
      |    second_od IS NOT NULL AS event
      |  FROM pc CROSS JOIN mx),
      |census AS (
      |  SELECT t,
      |    CAST(SUM(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |    CAST(SUM(CASE WHEN event THEN 0 ELSE 1 END) AS BIGINT) AS c
      |  FROM t GROUP BY 1),
      |k AS (
      |  SELECT t, d, c,
      |    SUM(d + c) OVER () -
      |      COALESCE(SUM(d + c) OVER (ORDER BY t
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS n_at_risk
      |  FROM census),
      |l AS (
      |  SELECT *,
      |    CASE WHEN d > 0 AND d < n_at_risk THEN
      |      CAST(round(ln(1.0 - CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE)),
      |        9) AS DECIMAL(12,9))
      |    ELSE CAST(0 AS DECIMAL(12,9)) END AS ln_term
      |  FROM k)
      |SELECT CAST(t AS BIGINT) AS gap_days,
      |  CAST(n_at_risk AS BIGINT) AS n_at_risk,
      |  d AS events, c AS censored,
      |  round(exp(CAST(SUM(ln_term) OVER (ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)), 6)
      |    AS survival
      |FROM l
      |QUALIFY d > 0 AND t <= 60
      |ORDER BY gap_days""".stripMargin

  // --------------------------------------------------------------- q322
  /** Nelson–Aalen cumulative hazard for the same first→second-order
    * process q192 estimates survival on: H(t) = Σ_{u≤t} dᵤ/nᵤ over
    * event days, the counting-process companion every survival stack
    * reports next to Kaplan–Meier (it is the integrand of S = e^{−H},
    * better-behaved in small risk sets and the basis of hazard-ratio
    * modeling). Also emits the Fleming–Harrington survival e^{−H(t)}
    * rounded to 6 dp — directly comparable row-by-row against q192's
    * product-limit survival (FH ≥ KM pointwise; the spec asserts it).
    *
    * Exactness: identical census/risk-set construction as q192 (exact
    * integer d, c, nᵤ); each hazard step dᵤ/nᵤ is one IEEE division
    * snapped to the 9-dp decimal grid; the cumulative hazard is an
    * EXACT decimal prefix sum of snapped steps; exp is the one final
    * double op, absorbed by 6-dp output rounding (q115 convention).
    *
    * Scale shape: same as q192 — per-customer collapse, then every
    * window runs over the |distinct gap days| census (WindowGuard). */
  def q322NelsonAalen(spark: SparkSession, dir: String): DataFrame = {
    val o = Kpis.table(spark, dir, "orders")
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("od"))
    val mx = o.agg(max(col("od")).as("corpus_max"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("od"))
    val perCust = o
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col("o_custkey"))
      .agg(min(col("od")).as("first_od"),
        max(when(col("rn") === 2, col("od"))).as("second_od"))
      .crossJoin(broadcast(mx))
      .select(
        when(col("second_od").isNotNull,
          datediff(col("second_od"), col("first_od")))
          .otherwise(datediff(col("corpus_max"), col("first_od"))).as("t"),
        col("second_od").isNotNull.as("event"))
    val census = perCust.groupBy(col("t"))
      .agg(sum(when(col("event"), 1L).otherwise(0L)).as("d"),
        sum(when(!col("event"), 1L).otherwise(0L)).as("c"))
    val byT = Window.orderBy(col("t"))
    val prior = byT.rowsBetween(Window.unboundedPreceding, -1)
    val cum = byT.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    census
      .withColumn("n_at_risk",
        sum(col("d") + col("c")).over(Window.partitionBy()) -
          coalesce(sum(col("d") + col("c")).over(prior), lit(0L)))
      .withColumn("step",
        when(col("d") > 0,
          round(col("d").cast("double") / col("n_at_risk").cast("double"),
            9).cast("decimal(12,9)"))
          .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(12,9)")))
      .withColumn("cum_hazard", sum(col("step")).over(cum))
      .filter(col("d") > 0 && col("t") <= 60)
      .select(col("t").cast("long").as("gap_days"), col("n_at_risk"),
        col("d").as("events"), col("c").as("censored"),
        col("step").cast("double").as("hazard_step"),
        col("cum_hazard").cast("double").as("cum_hazard"),
        round(exp(-col("cum_hazard").cast("double")), 6).as("surv_fh"))
      .orderBy("gap_days")
  }

  val q322Sql: String =
    """WITH o AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od FROM orders),
      |mx AS (SELECT MAX(od) AS corpus_max FROM o),
      |r AS (
      |  SELECT o_custkey, od,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY od) AS rn
      |  FROM o),
      |pc AS (
      |  SELECT o_custkey, MIN(od) AS first_od,
      |    MAX(CASE WHEN rn = 2 THEN od END) AS second_od
      |  FROM r WHERE rn <= 2 GROUP BY 1),
      |t AS (
      |  SELECT CASE WHEN second_od IS NOT NULL
      |              THEN date_diff('day', first_od, second_od)
      |              ELSE date_diff('day', first_od, corpus_max) END AS t,
      |    second_od IS NOT NULL AS event
      |  FROM pc CROSS JOIN mx),
      |census AS (
      |  SELECT t,
      |    CAST(SUM(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |    CAST(SUM(CASE WHEN event THEN 0 ELSE 1 END) AS BIGINT) AS c
      |  FROM t GROUP BY 1),
      |k AS (
      |  SELECT t, d, c,
      |    SUM(d + c) OVER () -
      |      COALESCE(SUM(d + c) OVER (ORDER BY t
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS n_at_risk
      |  FROM census),
      |l AS (
      |  SELECT *,
      |    CASE WHEN d > 0 THEN
      |      CAST(round(CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE), 9)
      |        AS DECIMAL(12,9))
      |    ELSE CAST(0 AS DECIMAL(12,9)) END AS step
      |  FROM k),
      |h AS (
      |  SELECT *,
      |    SUM(step) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch
      |  FROM l)
      |SELECT CAST(t AS BIGINT) AS gap_days,
      |  CAST(n_at_risk AS BIGINT) AS n_at_risk,
      |  d AS events, c AS censored,
      |  CAST(step AS DOUBLE) AS hazard_step,
      |  CAST(ch AS DOUBLE) AS cum_hazard,
      |  round(exp(-CAST(ch AS DOUBLE)), 6) AS surv_fh
      |FROM h
      |WHERE d > 0 AND t <= 60
      |ORDER BY gap_days""".stripMargin

  // --------------------------------------------------------------- q332
  /** TIME-BOUNDED funnel: view → click within 7 days of the first view
    * → purchase within 7 days of that click. q86's cascade is
    * unbounded (a purchase three months later still converts); real
    * funnel reporting attributes a stage only inside its conversion
    * window, which changes both the counts and the product decision
    * they drive (a long-latency conversion is a RE-ACQUISITION, not
    * funnel success). Same cascade plan as q86 — each stage one
    * selective scan joined to the previous user-sized frame — with the
    * window upper bound added to each stage's join predicate.
    *
    * Exactness: timestamp comparisons and interval arithmetic are
    * exact in both engines; counts are integers; one double division
    * per stage.
    *
    * Scale shape: identical to q86 — per-stage selective scans, no
    * event-sequence window, user-sized shuffles. */
  def q332BoundedFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Kpis.eventsTable(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("ts") > col("t1") &&
        col("ts") <= col("t1") + expr("INTERVAL 7 DAYS"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts") > col("t2") &&
        col("ts") <= col("t2") + expr("INTERVAL 7 DAYS"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    def stage(df: DataFrame, n: Int, label: String) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(n).as("stage"), lit(label).as("step"), col("n_users"))
    val out = stage(v, 1, "view")
      .unionAll(stage(c, 2, "click_within_7d"))
      .unionAll(stage(p, 3, "purchase_within_7d"))
    val base = v.agg(count(lit(1)).as("n_base"))
    out.crossJoin(broadcast(base))
      .select(col("stage"), col("step"), col("n_users"),
        (col("n_users").cast("double") / col("n_base").cast("double"))
          .as("conversion"))
      .orderBy("stage")
  }

  val q332Sql: String =
    """WITH v AS (
      |  SELECT user_id, MIN(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, MIN(e.ts) AS t2
      |  FROM events e JOIN v USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > v.t1
      |    AND e.ts <= v.t1 + INTERVAL 7 DAY
      |  GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, MIN(e.ts) AS t3
      |  FROM events e JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t2
      |    AND e.ts <= c.t2 + INTERVAL 7 DAY
      |  GROUP BY 1),
      |stages AS (
      |  SELECT 1 AS stage, 'view' AS step, COUNT(*) AS n_users FROM v
      |  UNION ALL
      |  SELECT 2, 'click_within_7d', COUNT(*) FROM c
      |  UNION ALL
      |  SELECT 3, 'purchase_within_7d', COUNT(*) FROM p),
      |base AS (SELECT COUNT(*) AS n_base FROM v)
      |SELECT stage, step, CAST(n_users AS BIGINT) AS n_users,
      |  CAST(n_users AS DOUBLE) / CAST(n_base AS DOUBLE) AS conversion
      |FROM stages CROSS JOIN base
      |ORDER BY stage""".stripMargin

  // --------------------------------------------------------------- q229
  /** New-vs-returning revenue split by quarter: each quarter's revenue
    * decomposed into orders from customers whose FIRST-ever order falls
    * in that quarter (acquisition) vs earlier (retention) — the
    * growth-accounting census behind "are we growing by acquiring or by
    * retaining?". q87 tracks cohort RETENTION rates; this tracks the
    * MONEY split per calendar quarter.
    *
    * Exactness: quarter labels are string arithmetic off the date
    * (no engine quarter() conventions); revenue in exact cents; one
    * double division for the new share.
    *
    * Scale shape: per-customer first-order rollup (hash agg), one hash
    * join back to orders, one quarterly census agg. */
  def q229NewVsReturning(spark: SparkSession, dir: String): DataFrame = {
    def quarter(d: org.apache.spark.sql.Column) =
      concat(year(d).cast("string"), lit("-Q"),
        (((month(d) - 1) / lit(3)).cast("int") + 1).cast("string"))
    val orders = Kpis.table(spark, dir, "orders")
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val firstDay = orders.groupBy(col("o_custkey").as("fc"))
      .agg(min(col("day")).as("first_day"))
    orders.join(firstDay, col("o_custkey") === col("fc"))
      .withColumn("q", quarter(col("day")))
      .withColumn("is_new", quarter(col("first_day")) === col("q"))
      .groupBy(col("q"))
      .agg(
        sum(when(col("is_new"), col("cents")).otherwise(0L))
          .as("new_cents"),
        sum(when(!col("is_new"), col("cents")).otherwise(0L))
          .as("ret_cents"),
        count_distinct(when(col("is_new"), col("o_custkey")))
          .as("new_customers"))
      .select(col("q").as("quarter"),
        (col("new_cents").cast("double") / lit(100.0)).as("new_revenue"),
        (col("ret_cents").cast("double") / lit(100.0))
          .as("returning_revenue"),
        col("new_customers"),
        (round(col("new_cents").cast("double") /
          (col("new_cents") + col("ret_cents")).cast("double"), 6) +
          lit(0.0)).as("new_share"))
      .orderBy("quarter")
  }

  val q229Sql: String =
    """WITH o AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |f AS (SELECT o_custkey AS fc, MIN(day) AS first_day FROM o
      |      GROUP BY 1),
      |j AS (
      |  SELECT cents, o_custkey,
      |    CAST(year(day) AS VARCHAR) || '-Q' ||
      |      CAST((month(day) - 1) // 3 + 1 AS VARCHAR) AS q,
      |    (CAST(year(day) AS VARCHAR) || '-Q' ||
      |      CAST((month(day) - 1) // 3 + 1 AS VARCHAR)) =
      |    (CAST(year(first_day) AS VARCHAR) || '-Q' ||
      |      CAST((month(first_day) - 1) // 3 + 1 AS VARCHAR)) AS is_new
      |  FROM o JOIN f ON o_custkey = fc)
      |SELECT q AS quarter,
      |  CAST(SUM(CASE WHEN is_new THEN cents ELSE 0 END) AS DOUBLE) / 100.0
      |    AS new_revenue,
      |  CAST(SUM(CASE WHEN is_new THEN 0 ELSE cents END) AS DOUBLE) / 100.0
      |    AS returning_revenue,
      |  COUNT(DISTINCT CASE WHEN is_new THEN o_custkey END)
      |    AS new_customers,
      |  round(CAST(SUM(CASE WHEN is_new THEN cents ELSE 0 END) AS DOUBLE) /
      |    CAST(SUM(cents) AS DOUBLE), 6) + 0.0 AS new_share
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q268
  /** Inter-purchase regularity per market segment: each repeat
    * customer's coefficient of variation of order-date gaps
    * (CV = s/ḡ over their consecutive-order day gaps), rolled up to the
    * segment as mean CV plus the shares of clockwork (CV < 0.5) and
    * bursty (CV > 1, super-Poisson) customers. The timing complement to
    * q87's retention and q192's survival: WHO comes back is only half
    * the replenishment story — HOW REGULARLY they come back decides
    * whether reminder campaigns and demand forecasts can be scheduled
    * (an exponential/Poisson buyer has CV ≈ 1; subscriptions sit near
    * 0).
    *
    * Exactness: gaps are exact day integers from a per-customer lag
    * under the total order (date, orderkey); per-customer n, Σg, Σg²
    * are exact; each customer's CV is ONE double chain snapped to the
    * 9-dp decimal grid, so segment sums are exact decimal arithmetic
    * and the CV < 0.5 / CV > 1 cuts compare exact decimals (no
    * boundary ulp). Customers need ≥ 2 gaps and ḡ > 0.
    *
    * Scale shape: the lag window is partitioned by customer (q34's
    * sessionization bound); two map-combinable aggs (customer → cv,
    * segment census); the segment join is entity-scale. */
  def q268PurchaseRegularity(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("day"), col("o_orderkey"))
    val gaps = Kpis.table(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("day"))
      .withColumn("g",
        datediff(col("day"), lag(col("day"), 1).over(w)).cast("long"))
      .filter(col("g").isNotNull)
    val perCust = gaps.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("ng"), sum(col("g")).as("sg"),
        sum(col("g").cast("decimal(18,0)") * col("g").cast("decimal(18,0)"))
          .as("sg2"))
      .filter(col("ng") >= 2 && col("sg") > 0)
    val nD = col("ng").cast("double")
    val mean = col("sg").cast("double") / nD
    val cv = sqrt((col("sg2").cast("double") -
      col("sg").cast("double") * col("sg").cast("double") / nD) /
      (nD - lit(1.0))) / mean
    val cvD = perCust
      .select(col("o_custkey"), round(cv, 9).cast("decimal(12,9)").as("cv"))
    val seg = broadcast(Kpis.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment")))
    cvD.join(seg, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_customers"),
        (round(sum(col("cv")).cast("double") /
          count(lit(1)).cast("double"), 6) + lit(0.0)).as("avg_cv"),
        (round(sum(when(col("cv") < 0.5, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double"), 6) + lit(0.0))
          .as("share_clockwork"),
        (round(sum(when(col("cv") > 1.0, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double"), 6) + lit(0.0)).as("share_bursty"))
      .orderBy("segment")
  }

  val q268Sql: String =
    """WITH g0 AS (
      |  SELECT o_custkey,
      |    datediff('day',
      |      LAG(CAST(o_orderdate AS DATE), 1) OVER (
      |        PARTITION BY o_custkey
      |        ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
      |      CAST(o_orderdate AS DATE)) AS g
      |  FROM orders),
      |gaps AS (SELECT o_custkey, CAST(g AS BIGINT) AS g
      |  FROM g0 WHERE g IS NOT NULL),
      |pc AS (
      |  SELECT o_custkey, COUNT(*) AS ng,
      |    CAST(SUM(g) AS BIGINT) AS sg,
      |    SUM(CAST(g AS DECIMAL(18,0)) * CAST(g AS DECIMAL(18,0))) AS sg2
      |  FROM gaps GROUP BY 1 HAVING COUNT(*) >= 2 AND SUM(g) > 0),
      |cv AS (
      |  SELECT o_custkey,
      |    CAST(round(sqrt((CAST(sg2 AS DOUBLE) - CAST(sg AS DOUBLE)
      |          * CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))
      |        / (CAST(ng AS DOUBLE) - 1.0))
      |      / (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)), 9)
      |      AS DECIMAL(12,9)) AS cv
      |  FROM pc)
      |SELECT c_mktsegment AS segment, COUNT(*) AS n_customers,
      |  round(CAST(SUM(cv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
      |    + 0.0 AS avg_cv,
      |  round(CAST(SUM(CASE WHEN cv < 0.5 THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS share_clockwork,
      |  round(CAST(SUM(CASE WHEN cv > 1.0 THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS share_bursty
      |FROM cv JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q270
  /** Recency-conversion curve at a reference date (1999-01-01): bucket
    * every customer with pre-reference history by QUARTERS since their
    * last order (0–7, capped at 8 = "2+ years"), then measure the share
    * that orders again within the following year. The empirical decay
    * curve behind every win-back campaign and the discrete-hazard
    * complement to q192's Kaplan–Meier: KM asks "how long until the
    * next purchase", this asks "given silence of length r, what are the
    * odds they EVER come back inside a year" — the number that sets the
    * cutoff where win-back spend stops paying for itself.
    *
    * Exactness: the last-order date and the conversion flag are exact
    * per-customer aggregates; the bucket is exact integer day
    * arithmetic (floor of days/91, least-capped); rates are one double
    * division, 6-dp-rounded.
    *
    * Scale shape: orders collapse once map-combinably per customer;
    * the bucket census is ≤ 9 rows. No window, no fact-side join. */
  def q270RecencyConversion(spark: SparkSession, dir: String): DataFrame = {
    val ref = to_date(lit("1999-01-01"))
    val perCust = Kpis.table(spark, dir, "orders")
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("day"))
      .groupBy(col("o_custkey"))
      .agg(
        max(when(col("day") < ref, col("day"))).as("last_before"),
        max(when(col("day") >= ref &&
          col("day") < add_months(ref, 12), 1L).otherwise(0L))
          .as("converted"))
      .filter(col("last_before").isNotNull)
    perCust
      .withColumn("bucket",
        least(floor(datediff(ref, col("last_before")) / lit(91)), lit(8L)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("converted")).as("n_converted"))
      .withColumn("conversion_rate",
        round(col("n_converted").cast("double") /
          col("n_customers").cast("double"), 6) + lit(0.0))
      .orderBy("bucket")
  }

  val q270Sql: String =
    """WITH pc AS (
      |  SELECT o_custkey,
      |    MAX(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1999-01-01'
      |      THEN CAST(o_orderdate AS DATE) END) AS last_before,
      |    MAX(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1999-01-01'
      |      AND CAST(o_orderdate AS DATE) < DATE '2000-01-01'
      |      THEN 1 ELSE 0 END) AS converted
      |  FROM orders GROUP BY 1),
      |b AS (
      |  SELECT LEAST(datediff('day', last_before, DATE '1999-01-01') // 91,
      |      8) AS bucket,
      |    converted
      |  FROM pc WHERE last_before IS NOT NULL)
      |SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_customers,
      |  CAST(SUM(converted) AS BIGINT) AS n_converted,
      |  round(CAST(SUM(converted) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
      |    + 0.0 AS conversion_rate
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q310
  /** Chain-ladder development factors over the customer-cohort revenue
    * triangle — the actuarial completion algorithm applied to cohort
    * LTV: q146 plots each acquisition cohort's cumulative revenue
    * curve; chain-ladder summarizes HOW curves develop (the
    * volume-weighted lag-to-lag factor f_ℓ = Σ cum_{ℓ+1} / Σ cum_ℓ over
    * the cohorts old enough to be observed at ℓ+1) — the factors young
    * cohorts are multiplied by to project their ultimate value, which
    * is how both insurance reserving and LTV forecasting complete an
    * unfinished triangle.
    *
    * Exactness: the triangle is exact integer cents; missing
    * (cohort, lag) cells are grid-filled with zero before the
    * cumulative, so cum carries forward correctly; each factor is ONE
    * integer division.
    *
    * Scale shape: one (custkey) agg for cohort assignment, one
    * (cohort, lag) cells agg, a bounded |cohorts|×|lags| grid fill, a
    * PARTITIONED cumulative window, and a lag-keyed factor agg —
    * everything after the two fact aggs is calendar-census-sized. */
  def q310ChainLadder(spark: SparkSession, dir: String): DataFrame = {
    val o = Kpis.table(spark, dir, "orders")
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("idx"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val first = o.groupBy(col("o_custkey").as("ck"))
      .agg(min(col("idx")).as("origin"))
    val cells = o.join(first, col("o_custkey") === col("ck"))
      .groupBy(col("origin"), (col("idx") - col("origin")).as("lag"))
      .agg(sum(col("cents")).as("inc"))
    val maxIdx = o.agg(max(col("idx")).as("max_idx"))
    val grid = cells.select(col("origin")).distinct()
      .crossJoin(broadcast(maxIdx))
      .select(col("origin"),
        explode(sequence(lit(0L), col("max_idx") - col("origin")))
          .as("lag"))
      .join(cells, Seq("origin", "lag"), "left")
      .withColumn("inc", coalesce(col("inc"), lit(0L)))
      .withColumn("cum", sum(col("inc")).over(Window
        .partitionBy(col("origin")).orderBy(col("lag"))))
    val pairs = grid.as("a").join(grid.as("b"),
        col("a.origin") === col("b.origin") &&
          col("b.lag") === col("a.lag") + 1L)
      .select(col("a.lag").as("lag"), col("a.origin").as("origin"),
        col("a.cum").as("cum_l"), col("b.cum").as("cum_next"))
    pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_cohorts"),
        sum(col("cum_l")).as("sum_cum"),
        sum(col("cum_next")).as("sum_cum_next"))
      .select(col("lag"), col("n_cohorts"), col("sum_cum"),
        col("sum_cum_next"),
        (col("sum_cum_next").cast("double") / col("sum_cum").cast("double"))
          .as("dev_factor"))
      .orderBy("lag")
  }

  val q310Sql: String =
    """WITH o AS (
      |  SELECT o_custkey,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
      |      AS idx,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |first AS (
      |  SELECT o_custkey, MIN(idx) AS origin FROM o GROUP BY 1),
      |cells AS (
      |  SELECT origin, o.idx - origin AS lag,
      |    CAST(SUM(cents) AS BIGINT) AS inc
      |  FROM o JOIN first USING (o_custkey) GROUP BY 1, 2),
      |mx AS (SELECT MAX(idx) AS max_idx FROM o),
      |grid AS (
      |  SELECT g.origin, g.lag,
      |    CAST(SUM(COALESCE(c.inc, 0)) OVER (PARTITION BY g.origin
      |      ORDER BY g.lag ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM (
      |    SELECT DISTINCT origin, UNNEST(range(0,
      |      (SELECT max_idx FROM mx) - origin + 1)) AS lag
      |    FROM cells) g
      |  LEFT JOIN cells c ON g.origin = c.origin AND g.lag = c.lag),
      |pairs AS (
      |  SELECT a.lag, a.cum AS cum_l, b.cum AS cum_next
      |  FROM grid a JOIN grid b
      |    ON a.origin = b.origin AND b.lag = a.lag + 1)
      |SELECT CAST(lag AS BIGINT) AS lag, COUNT(*) AS n_cohorts,
      |  CAST(SUM(cum_l) AS BIGINT) AS sum_cum,
      |  CAST(SUM(cum_next) AS BIGINT) AS sum_cum_next,
      |  CAST(SUM(cum_next) AS DOUBLE) / CAST(SUM(cum_l) AS DOUBLE)
      |    AS dev_factor
      |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q347
  /** Two-sample log-rank test: does time-to-repeat-purchase differ
    * between the BUILDING and MACHINERY segments? The hypothesis test
    * the survival pair (q192 Kaplan–Meier, q322 Nelson–Aalen) was
    * built to feed — censoring-aware, so it uses every customer,
    * including the ones who never repeated (a naive t-test on observed
    * gaps silently drops them, q192's bias note). At each event day u:
    * observed group-1 events d₁ᵤ vs expected dᵤ·n₁ᵤ/nᵤ under H₀, with
    * hypergeometric variance dᵤ·n₁ᵤ·n₂ᵤ·(nᵤ−dᵤ)/(nᵤ²(nᵤ−1)); the
    * statistic (O₁−E₁)²/V is χ²(1 df) against the 95% literal.
    *
    * Exactness: the (day, d₁, c₁, d₂, c₂) census and both at-risk
    * prefixes are exact integers; each expectation term is dᵤ·n₁ᵤ
    * (exact-integer product, < 2⁵³) followed by ONE division, and each
    * variance term is the FIXED-ORDER chain ((((d·n₁/n)·n₂)/n)·(n−d))
    * /(n−1) — single IEEE ops over identical operands, never a >2⁵³
    * integer forced through a decimal→double cast (the q125 DuckDB
    * pitfall); both snap to the 9-dp grid before their exact decimal
    * sums; the closing χ² is three double ops, 6-dp snapped.
    *
    * Scale shape: orders collapse to the per-customer (first, second)
    * frame in one agg (q192's shape); everything after runs on the
    * |distinct gap days| census — the two prefix windows are the
    * WindowGuard-pinned q192/q322 sites. */
  def q347LogRank(spark: SparkSession, dir: String): DataFrame = {
    val segs = Seq("BUILDING", "MACHINERY")
    val o = Kpis.table(spark, dir, "orders")
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("od"))
    val mx = o.agg(max(col("od")).as("corpus_max"))
    val seg = Kpis.table(spark, dir, "customer")
      .filter(col("c_mktsegment").isin(segs: _*))
      .select(col("c_custkey"), col("c_mktsegment").as("g"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("od"))
    val perCust = o
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col("o_custkey"))
      .agg(min(col("od")).as("first_od"),
        max(when(col("rn") === 2, col("od"))).as("second_od"))
      .join(seg, col("o_custkey") === col("c_custkey"))
      .crossJoin(broadcast(mx))
      .select(col("g"),
        when(col("second_od").isNotNull,
          datediff(col("second_od"), col("first_od")))
          .otherwise(datediff(col("corpus_max"), col("first_od"))).as("t"),
        col("second_od").isNotNull.as("event"))
    val census = perCust.groupBy(col("t")).agg(
      sum(when(col("event") && col("g") === segs.head, 1L).otherwise(0L))
        .as("d1"),
      sum(when(!col("event") && col("g") === segs.head, 1L).otherwise(0L))
        .as("c1"),
      sum(when(col("event") && col("g") === segs(1), 1L).otherwise(0L))
        .as("d2"),
      sum(when(!col("event") && col("g") === segs(1), 1L).otherwise(0L))
        .as("c2"))
    val prior = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = census
      .withColumn("n1",
        sum(col("d1") + col("c1")).over(Window.partitionBy()) -
          coalesce(sum(col("d1") + col("c1")).over(prior), lit(0L)))
      .withColumn("n2",
        sum(col("d2") + col("c2")).over(Window.partitionBy()) -
          coalesce(sum(col("d2") + col("c2")).over(prior), lit(0L)))
      .withColumn("d", col("d1") + col("d2"))
      .withColumn("n", col("n1") + col("n2"))
      .filter(col("d") > 0 && col("n") > 1)
    val dD = col("d").cast("double")
    val n1D = col("n1").cast("double")
    val n2D = col("n2").cast("double")
    val nD = col("n").cast("double")
    val terms = risk
      .withColumn("e1_term",
        round((col("d") * col("n1")).cast("double") / nD, 9)
          .cast("decimal(20,9)"))
      .withColumn("v_term",
        round((col("d") * col("n1")).cast("double") / nD * n2D / nD *
          (nD - dD) / (nD - lit(1.0)), 9).cast("decimal(20,9)"))
    val sums = terms.agg(
      sum(col("d1")).as("observed_b"),
      sum(col("e1_term")).as("e1"),
      sum(col("v_term")).as("v"))
    val sizes = perCust.agg(
      sum(when(col("g") === segs.head, 1L).otherwise(0L)).as("n_building"),
      sum(when(col("g") === segs(1), 1L).otherwise(0L)).as("n_machinery"))
    val chi2 = (col("observed_b").cast("double") - col("e1").cast("double")) *
      (col("observed_b").cast("double") - col("e1").cast("double")) /
      col("v").cast("double")
    sums.crossJoin(broadcast(sizes))
      .select(col("n_building"), col("n_machinery"), col("observed_b"),
        (round(col("e1").cast("double"), 6) + lit(0.0)).as("expected_b"),
        (round(col("v").cast("double"), 6) + lit(0.0)).as("variance"),
        (round(chi2, 6) + lit(0.0)).as("chi2"),
        (chi2 >= lit(3.841458821)).as("reject_95"))
  }

  val q347Sql: String =
    """WITH o AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od FROM orders),
      |mx AS (SELECT MAX(od) AS corpus_max FROM o),
      |r AS (
      |  SELECT o_custkey, od,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY od) AS rn
      |  FROM o),
      |pc AS (
      |  SELECT o_custkey, MIN(od) AS first_od,
      |    MAX(CASE WHEN rn = 2 THEN od END) AS second_od
      |  FROM r WHERE rn <= 2 GROUP BY 1),
      |seg AS (
      |  SELECT c_custkey, c_mktsegment AS g FROM customer
      |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
      |t AS (
      |  SELECT g,
      |    CASE WHEN second_od IS NOT NULL
      |         THEN date_diff('day', first_od, second_od)
      |         ELSE date_diff('day', first_od, corpus_max) END AS t,
      |    second_od IS NOT NULL AS event
      |  FROM pc JOIN seg ON o_custkey = c_custkey CROSS JOIN mx),
      |census AS (
      |  SELECT t,
      |    CAST(SUM(CASE WHEN event AND g = 'BUILDING' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d1,
      |    CAST(SUM(CASE WHEN NOT event AND g = 'BUILDING' THEN 1 ELSE 0
      |      END) AS BIGINT) AS c1,
      |    CAST(SUM(CASE WHEN event AND g = 'MACHINERY' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d2,
      |    CAST(SUM(CASE WHEN NOT event AND g = 'MACHINERY' THEN 1 ELSE 0
      |      END) AS BIGINT) AS c2
      |  FROM t GROUP BY 1),
      |k AS (
      |  SELECT t, d1, d2,
      |    SUM(d1 + c1) OVER () -
      |      COALESCE(SUM(d1 + c1) OVER (ORDER BY t
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1,
      |    SUM(d2 + c2) OVER () -
      |      COALESCE(SUM(d2 + c2) OVER (ORDER BY t
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n2
      |  FROM census),
      |f AS (
      |  SELECT t, d1, d1 + d2 AS d, n1, n2, n1 + n2 AS n
      |  FROM k WHERE d1 + d2 > 0 AND n1 + n2 > 1),
      |terms AS (
      |  SELECT d1,
      |    CAST(ROUND(CAST(d * n1 AS DOUBLE) / CAST(n AS DOUBLE), 9)
      |      AS DECIMAL(20,9)) AS e1_term,
      |    CAST(ROUND(CAST(d * n1 AS DOUBLE) / CAST(n AS DOUBLE)
      |        * CAST(n2 AS DOUBLE) / CAST(n AS DOUBLE)
      |        * (CAST(n AS DOUBLE) - CAST(d AS DOUBLE))
      |        / (CAST(n AS DOUBLE) - 1.0), 9)
      |      AS DECIMAL(20,9)) AS v_term
      |  FROM f),
      |sums AS (
      |  SELECT CAST(SUM(d1) AS BIGINT) AS observed_b,
      |    CAST(SUM(e1_term) AS DECIMAL(30,9)) AS e1,
      |    CAST(SUM(v_term) AS DECIMAL(30,9)) AS v
      |  FROM terms),
      |sizes AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN g = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_building,
      |    CAST(SUM(CASE WHEN g = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_machinery
      |  FROM t)
      |SELECT n_building, n_machinery, observed_b,
      |  ROUND(CAST(e1 AS DOUBLE), 6) + 0.0 AS expected_b,
      |  ROUND(CAST(v AS DOUBLE), 6) + 0.0 AS variance,
      |  ROUND((CAST(observed_b AS DOUBLE) - CAST(e1 AS DOUBLE))
      |    * (CAST(observed_b AS DOUBLE) - CAST(e1 AS DOUBLE))
      |    / CAST(v AS DOUBLE), 6) + 0.0 AS chi2,
      |  (CAST(observed_b AS DOUBLE) - CAST(e1 AS DOUBLE))
      |    * (CAST(observed_b AS DOUBLE) - CAST(e1 AS DOUBLE))
      |    / CAST(v AS DOUBLE) >= 3.841458821 AS reject_95
      |FROM sums, sizes""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q347_logrank_test", q347LogRank _, q347Sql),
    Query("q310_chain_ladder", q310ChainLadder _, q310Sql),
    Query("q270_recency_conversion", q270RecencyConversion _, q270Sql),
    Query("q268_purchase_regularity", q268PurchaseRegularity _, q268Sql),
    Query("q229_new_vs_returning", q229NewVsReturning _, q229Sql),
    Query("q86_funnel", q86Funnel _, q86Sql),
    Query("q87_retention", q87Retention _, q87Sql),
    Query("q93_conversion_latency", q93ConversionLatency _, q93Sql),
    Query("q146_cohort_ltv", q146CohortLtv _, q146Sql),
    Query("q192_kaplan_meier", q192KaplanMeier _, q192Sql),
    Query("q322_nelson_aalen", q322NelsonAalen _, q322Sql),
    Query("q332_bounded_funnel", q332BoundedFunnel _, q332Sql))
}
