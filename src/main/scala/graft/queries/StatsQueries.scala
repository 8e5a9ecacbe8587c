package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query

/** Grouped statistical modeling over the event stream: closed-form OLS
  * trend fitting and robust (median/MAD) outlier detection — the two
  * monitoring primitives a pipeline runs on its own telemetry.
  */
object StatsQueries {

  // ---------------------------------------------------------------- q69
  /** Per-event-type OLS trend of value over time (hours since
    * 2024-01-01): slope and intercept from the closed-form sums.
    *
    * Exactness: x is an integer hour index, y is exact DECIMAL(18,4)
    * (events.value is ≤4 dp), so every sum (Σx, Σx², Σxy, Σy) is exact
    * integer/decimal arithmetic with NO float summation-order jitter; the
    * slope/intercept divisions are then single double ops on identical
    * exact operands in both engines — bit-exact without rounding fudge.
    *
    * Scale shape: one map-side-combinable hash agg over the scan; the
    * closed form needs no second pass and no window. */
  def q69TrendFit(spark: SparkSession, dir: String): DataFrame = {
    val baseEpoch = 1704067200L // 2024-01-01 00:00:00 UTC
    // floor, not cast-truncation: DuckDB's `//` floors, so a pre-2024
    // timestamp (negative offset) must floor here too (-0.5 → -1, not 0)
    val x = floor((col("ts").cast("long") - baseEpoch) / lit(3600.0))
      .cast("long")
    val y = col("value").cast("decimal(18,4)")
    Kpis.eventsTable(spark, dir)
      .select(col("event_type"), x.as("x"), y.as("y"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y")).as("sy"),
        sum(col("y") * col("x")).as("sxy"))
      .withColumn("slope",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .select(col("event_type"), col("n"), col("slope"),
        ((col("sy").cast("double") - col("slope") * col("sx").cast("double"))
          / col("n").cast("double")).as("intercept"))
      .orderBy("event_type")
  }

  val q69Sql: String =
    """WITH pts AS (
      |  SELECT event_type,
      |    (CAST(floor(epoch(ts)) AS BIGINT) - 1704067200) // 3600 AS x,
      |    CAST(value AS DECIMAL(18,4)) AS y
      |  FROM events),
      |sums AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(x) AS sx, SUM(x * x) AS sxx, SUM(y) AS sy, SUM(y * x) AS sxy
      |  FROM pts GROUP BY event_type)
      |SELECT event_type, n,
      |  CAST(n * sxy - sx * sy AS DOUBLE)
      |    / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
      |  (CAST(sy AS DOUBLE)
      |     - (CAST(n * sxy - sx * sy AS DOUBLE)
      |        / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
      |    / CAST(n AS DOUBLE) AS intercept
      |FROM sums ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q70
  /** Robust per-type outlier detection: median + MAD (median absolute
    * deviation), flagging events beyond 3 MADs. Two exact-percentile
    * passes (the q37-proven interpolation parity) joined by type — the
    * median broadcast back over the scan, never a per-row window.
    * Everything downstream of the percentiles is bit-exact double
    * arithmetic spelled identically in both engines. */
  def q70MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Kpis.eventsTable(spark, dir)
      .select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("median"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("median")))
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("median")).as("median"), // constant per group
        min(col("mad")).as("mad"),
        sum(when(col("adev") > lit(3.0) * col("mad"), lit(1L))
          .otherwise(lit(0L))).as("n_outliers"))
      .select(col("event_type"), col("n_events"), col("median"),
        col("mad"), col("n_outliers"),
        (col("n_outliers").cast("double") / col("n_events"))
          .as("outlier_share"))
      .orderBy("event_type")
  }

  val q70Sql: String =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS median
      |  FROM events GROUP BY event_type),
      |dev AS (
      |  SELECT e.event_type, e.value, m.median,
      |    abs(e.value - m.median) AS adev
      |  FROM events e JOIN med m USING (event_type)),
      |mad AS (
      |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
      |  FROM dev GROUP BY event_type)
      |SELECT d.event_type, COUNT(*) AS n_events,
      |  any_value(d.median) AS median, any_value(mad.mad) AS mad,
      |  CAST(SUM(CASE WHEN d.adev > 3.0 * mad.mad THEN 1 ELSE 0 END)
      |       AS BIGINT) AS n_outliers,
      |  CAST(SUM(CASE WHEN d.adev > 3.0 * mad.mad THEN 1 ELSE 0 END)
      |       AS DOUBLE) / COUNT(*) AS outlier_share
      |FROM dev d JOIN mad USING (event_type)
      |GROUP BY d.event_type
      |ORDER BY d.event_type""".stripMargin

  // ---------------------------------------------------------------- q84
  /** Equi-WIDTH histogram of order totals (the value-axis complement of
    * q71's equi-depth ntile bins): 20 fixed-width buckets between the
    * observed min and max. The min/max pre-aggregate broadcasts back over
    * the scan (one row), so bucketing is a pure map — one shuffle total,
    * for the final 20-row count agg; no windows anywhere (ntile needs a
    * per-partition sort; this shape doesn't).
    *
    * Exactness: bucket = least(floor((v-min)/width), 19) is the same IEEE
    * chain in both engines on exact decimal-cast-double values; the edge
    * clamp puts v = max in the last bucket. Bounds are re-derived from
    * (min, width) with the identical chain, rounded to 6 dp for output. */
  def q84EquiwidthHist(spark: SparkSession, dir: String): DataFrame = {
    val o = Kpis.table(spark, dir, "orders")
      .select(col("o_totalprice").cast("decimal(18,4)").cast("double")
        .as("v"))
    val mm = o.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val w = (col("mx") - col("mn")) / lit(20.0)
    // degenerate constant column (mn = mx ⇒ width 0): everything lands
    // in bucket 0 by definition — without the guard the division yields
    // NaN/∞, where the engines' floor/least semantics diverge
    val bucket = when(col("mx") === col("mn"), lit(0.0))
      .otherwise(least(floor((col("v") - col("mn")) / w), lit(19.0)))
    o.crossJoin(broadcast(mm))
      .select(col("v"), col("mn"),
        bucket.cast("int").as("bucket"), w.as("w"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        // + 0.0 on both edges: a negative-domain edge in (-5e-7, 0) rounds
        // to -0.0 in DuckDB but +0.0 in Spark — normalize (README convention)
        (round(min(col("mn")) + col("bucket").cast("double") * min(col("w")), 6)
          + lit(0.0)).as("lo"),
        (round(min(col("mn")) + (col("bucket").cast("double") + lit(1.0))
          * min(col("w")), 6) + lit(0.0)).as("hi"))
      .orderBy("bucket")
  }

  val q84Sql: String =
    """WITH o AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS v
      |  FROM orders),
      |mm AS (
      |  SELECT MIN(v) AS mn, MAX(v) AS mx,
      |    (MAX(v) - MIN(v)) / 20.0 AS w
      |  FROM o)
      |SELECT CAST(CASE WHEN mx = mn THEN 0.0
      |    ELSE LEAST(FLOOR((v - mn) / w), 19.0) END AS INTEGER) AS bucket,
      |  COUNT(*) AS n,
      |  round(MIN(mn) + CAST(CAST(CASE WHEN mx = mn THEN 0.0
      |    ELSE LEAST(FLOOR((v - mn) / w), 19.0) END
      |    AS INTEGER) AS DOUBLE) * MIN(w), 6) + 0.0 AS lo,
      |  round(MIN(mn) + (CAST(CAST(CASE WHEN mx = mn THEN 0.0
      |    ELSE LEAST(FLOOR((v - mn) / w), 19.0) END
      |    AS INTEGER) AS DOUBLE) + 1.0) * MIN(w), 6) + 0.0 AS hi
      |FROM o CROSS JOIN mm
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q117
  /** Quantile SKETCH certification — q41's sketch-certification pattern
    * applied to quantiles: per event type, the exact interpolated
    * p50/p90 (q37's proven parity columns) plus two-sided RANK
    * certificates that `approx_percentile`'s GK sketch (accuracy 1000 —
    * the mergeable, one-pass, bounded-memory path a 100 TB quantile
    * job actually runs) landed within its ±n/1000 rank guarantee:
    * #{v ≤ approx} ≥ ⌈(p−ε)·n⌉ and #{v < approx} ≤ ⌊(p+ε)·n⌋ (the
    * two-sided form is tie-robust). The sketch VALUE itself is
    * merge-order-dependent and never surfaces; the flags hold for any
    * merge order by the GK bound, so the oracle pins them to 1 — sketch
    * drift turns the gate red.
    *
    * Scale shape: pass 1 is one hash agg per type (exact percentile is
    * the certification reference — at 100 TB one would certify on a
    * stratified slice); the tiny per-type row set is localCheckpoint'd
    * and re-joined for the rank count, so the events scan runs exactly
    * twice (agg + rank), both map-side-combinable. */
  def q117QuantileSketchCert(spark: SparkSession, dir: String): DataFrame = {
    val ev = Kpis.eventsTable(spark, dir)
      .select(col("event_type"), col("value"))
    val agg = ev.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        expr("percentile(value, 0.5)").as("p50_exact"),
        expr("percentile(value, 0.9)").as("p90_exact"),
        expr("approx_percentile(value, 0.5, 1000)").as("a50"),
        expr("approx_percentile(value, 0.9, 1000)").as("a90"))
      .localCheckpoint()
    val ranks = ev
      .join(agg.select(col("event_type"), col("a50"), col("a90")),
        "event_type")
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("value") <= col("a50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("value") < col("a50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("value") <= col("a90"), 1L).otherwise(0L)).as("le90"),
        sum(when(col("value") < col("a90"), 1L).otherwise(0L)).as("lt90"))
    def flag(p: Double, le: Column, lt: Column): Column = {
      val n = col("n_events").cast("double")
      ((le.cast("double") >= floor((lit(p) - lit(0.001)) * n)) &&
        (lt.cast("double") <= ceil((lit(p) + lit(0.001)) * n)))
        .cast("int")
    }
    agg.join(ranks, "event_type")
      .select(col("event_type"), col("n_events"),
        col("p50_exact"), col("p90_exact"),
        flag(0.5, col("le50"), col("lt50")).as("p50_sketch_ok"),
        flag(0.9, col("le90"), col("lt90")).as("p90_sketch_ok"))
      .orderBy("event_type")
  }

  /** Oracle: exact percentiles via the q37-proven quantile_cont parity;
    * the certificates are pinned literal 1 — any GK-guarantee violation
    * (or a broken rank computation) flips the Spark side to 0 and the
    * hash gate red. */
  val q117Sql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  quantile_cont(value, 0.5) AS p50_exact,
      |  quantile_cont(value, 0.9) AS p90_exact,
      |  CAST(1 AS INTEGER) AS p50_sketch_ok,
      |  CAST(1 AS INTEGER) AS p90_sketch_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q127
  /** Per-nation robust location/spread of customer balances via EXACT
    * order statistics — lower median, p25/p75 (ceil-rank), IQR, and MAD —
    * with NO quantile interpolation anywhere. q70's `percentile`/
    * `quantile_cont` parity holds only when the interpolation arithmetic
    * happens to agree; selecting an actual element of the column is
    * bit-exact by construction (the double came off the same parquet
    * page on both engines) and IQR/MAD stay exact because they
    * subtract/abs identical selected doubles.
    *
    * Rank convention (shared with the oracle, spelled in integer math):
    * median = rank ⌊(n+1)/2⌋ (lower median), p25 = rank ⌈n/4⌉, p75 =
    * rank ⌈3n/4⌉; MAD = lower median of |x − median|.
    *
    * Scale shape: the raw column NEVER enters a window — rows collapse to
    * (group, value) COUNTS first, and the cumulative-count window runs
    * over distinct values only (bounded by value cardinality, not row
    * count: at 100 TB a 2-dp balance column has ~10⁶ distinct values per
    * group vs ~10⁹ rows, and a per-group sort of 10⁹ rows is exactly the
    * skew bomb the q70 broadcast-median shape avoids — this keeps that
    * property while dropping interpolation). The selected rank is the
    * value whose cumulative range [cum−c, cum) covers k. Two such passes
    * (values, then absolute deviations), stitched by a 25-row broadcast. */
  def q127NationOrderStats(spark: SparkSession, dir: String): DataFrame = {
    def rankStats(df: DataFrame, grp: String, v: String): DataFrame = {
      val byG = Window.partitionBy(col(grp))
      val cumW = byG.orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.groupBy(col(grp), col(v)).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(cumW))
        .withColumn("n", sum(col("c")).over(byG))
        .withColumn("lo", col("cum") - col("c"))
    }
    def pick(k: Column, v: String): Column =
      max(when(col("lo") < k && k <= col("cum"), col(v)))

    val cust = Kpis.table(spark, dir, "customer")
      .select(col("c_nationkey").cast("long").as("nk"), col("c_acctbal"))
    val kMed = expr("(n + 1) div 2") // integer div: lower median
    val sel = rankStats(cust, "nk", "c_acctbal")
      .groupBy(col("nk"))
      .agg(
        max(col("n")).as("n_customers"),
        pick(kMed, "c_acctbal").as("median"),
        pick(expr("(n + 3) div 4"), "c_acctbal").as("p25"),
        pick(expr("(3 * n + 3) div 4"), "c_acctbal").as("p75"))
    val dev = cust
      .join(broadcast(sel.select(col("nk"), col("median"))), "nk")
      .select(col("nk"), abs(col("c_acctbal") - col("median")).as("d"))
    val mad = rankStats(dev, "nk", "d")
      .groupBy(col("nk")).agg(pick(kMed, "d").as("mad"))
    sel.join(broadcast(mad), "nk")
      .select(col("nk").as("c_nationkey"), col("n_customers"),
        col("median"), col("p25"), col("p75"),
        (col("p75") - col("p25")).as("iqr"), col("mad"))
      .orderBy("c_nationkey")
  }

  val q127Sql: String =
    """WITH counts AS (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nk, c_acctbal AS v,
      |         COUNT(*) AS c
      |  FROM customer GROUP BY 1, 2),
      |cum AS (
      |  SELECT nk, v, c,
      |    SUM(c) OVER (PARTITION BY nk ORDER BY v
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS cum,
      |    SUM(c) OVER (PARTITION BY nk) AS n
      |  FROM counts),
      |sel AS (
      |  SELECT nk, CAST(MAX(n) AS BIGINT) AS n_customers,
      |    MAX(CASE WHEN cum - c < (n+1)//2 AND (n+1)//2 <= cum
      |             THEN v END) AS median,
      |    MAX(CASE WHEN cum - c < (n+3)//4 AND (n+3)//4 <= cum
      |             THEN v END) AS p25,
      |    MAX(CASE WHEN cum - c < (3*n+3)//4 AND (3*n+3)//4 <= cum
      |             THEN v END) AS p75
      |  FROM cum GROUP BY nk),
      |dev AS (
      |  SELECT CAST(c.c_nationkey AS BIGINT) AS nk,
      |         abs(c.c_acctbal - s.median) AS d
      |  FROM customer c JOIN sel s ON CAST(c.c_nationkey AS BIGINT) = s.nk),
      |dcounts AS (SELECT nk, d, COUNT(*) AS c FROM dev GROUP BY 1, 2),
      |dcum AS (
      |  SELECT nk, d, c,
      |    SUM(c) OVER (PARTITION BY nk ORDER BY d
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS cum,
      |    SUM(c) OVER (PARTITION BY nk) AS n
      |  FROM dcounts),
      |madsel AS (
      |  SELECT nk, MAX(CASE WHEN cum - c < (n+1)//2 AND (n+1)//2 <= cum
      |                      THEN d END) AS mad
      |  FROM dcum GROUP BY nk)
      |SELECT s.nk AS c_nationkey, s.n_customers, s.median, s.p25, s.p75,
      |  s.p75 - s.p25 AS iqr, m.mad
      |FROM sel s JOIN madsel m USING (nk) ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q144
  /** Theil–Sen robust trend of 1996 daily revenue: the median of all
    * pairwise slopes (y_j−y_i)/(d_j−d_i), plus the matching robust
    * intercept (median of y_i − slope·d_i). Immune to the outlier days
    * that drag q69's OLS around — the third member of the robust-stats
    * family (q70 MAD spread, q127 order-statistic location, q144 trend).
    *
    * Scale shape: AGGREGATE FIRST, quadratic ONLY on the aggregate —
    * the fact table collapses to ≤366 daily points (map-combinable
    * exact-decimal agg), and the O(n²)/2 pair enumeration runs on that
    * dimension-bounded series (≤67k pairs regardless of fact size; the
    * oracle replays it as a self-join). The same discipline as q127:
    * never a quadratic on raw rows.
    *
    * Exactness: day index and daily revenue are exact
    * (integer / decimal→double); each slope is ONE double division of
    * identical operands, the median selects/interpolates on identical
    * doubles (q70's proven percentile parity), and the intercept chain
    * reuses the already-agreed slope. */
  def q144TheilsenTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = Kpis.table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00"))
        && col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")))
      .groupBy(datediff(to_date(col("l_shipdate")), lit("1996-01-01"))
        .cast("long").as("d"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).cast("double").as("y"))
      .localCheckpoint() // three consumers: two pair sides + residuals
    val a = daily.select(col("d").as("d1"), col("y").as("y1"))
    val b = daily.select(col("d").as("d2"), col("y").as("y2"))
    val slope = a.join(b, col("d1") < col("d2"))
      .select(((col("y2") - col("y1")) /
        (col("d2") - col("d1")).cast("double")).as("s"))
      .agg((expr("percentile(s, 0.5)") + lit(0.0)).as("ts_slope"),
        count(lit(1)).as("n_pairs"))
    daily.crossJoin(broadcast(slope))
      .select(col("ts_slope"), col("n_pairs"), col("d"),
        (col("y") - col("ts_slope") * col("d").cast("double")).as("r"))
      .groupBy(col("ts_slope"), col("n_pairs"))
      .agg(count(lit(1)).as("n_days"),
        (expr("percentile(r, 0.5)") + lit(0.0)).as("ts_intercept"))
      .select("n_days", "n_pairs", "ts_slope", "ts_intercept")
  }

  val q144Sql: String =
    """WITH daily AS (
      |  SELECT CAST(CAST(l_shipdate AS DATE) - DATE '1996-01-01' AS BIGINT)
      |      AS d,
      |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
      |                  AS DECIMAL(18,4))) AS DOUBLE) AS y
      |  FROM lineitem
      |  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      |    AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      |  GROUP BY 1),
      |pairs AS (
      |  SELECT (b.y - a.y) / CAST(b.d - a.d AS DOUBLE) AS s
      |  FROM daily a JOIN daily b ON a.d < b.d),
      |sl AS (
      |  SELECT quantile_cont(s, 0.5) + 0.0 AS ts_slope,
      |    COUNT(*) AS n_pairs
      |  FROM pairs)
      |SELECT COUNT(*) AS n_days, CAST(MAX(n_pairs) AS BIGINT) AS n_pairs,
      |  MAX(ts_slope) + 0.0 AS ts_slope,
      |  quantile_cont(y - ts_slope * CAST(d AS DOUBLE), 0.5) + 0.0
      |    AS ts_intercept
      |FROM daily CROSS JOIN sl""".stripMargin

  // --------------------------------------------------------------- q149
  /** Revenue-weighted median order quantity per return flag: the
    * quantity at which half the REVENUE (not half the line items) sits
    * at or below — "what order size does a typical dollar ship in".
    * Weighted quantiles are what q37/q117's unweighted percentiles
    * can't express.
    *
    * Exactness: all integer/decimal — the (flag, quantity) census holds
    * exact decimal revenue weights, the lower-median pick compares
    * cum + cum ≥ total in exact decimal arithmetic (never a float
    * half-threshold whose rounding could flip a boundary), and the
    * selected quantity is a raw column value.
    *
    * Scale shape: the q127 census discipline — the fact collapses to
    * ≤|flags|·50 (flag, quantity) cells in ONE map-combinable agg, and
    * every window runs over that cell table, never the rows. Weighted
    * quantiles this way stay exact at any scale when the value domain
    * is small; for continuous domains the q117 sketch path applies. */
  def q149WeightedMedianQty(spark: SparkSession, dir: String): DataFrame = {
    val census = Kpis.table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).as("wgt"))
    val cum = Window.partitionBy(col("l_returnflag")).orderBy(col("qty"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("l_returnflag"))
    census
      .withColumn("cum", sum(col("wgt")).over(cum))
      .withColumn("total", sum(col("wgt")).over(tot))
      .filter(col("cum") + col("cum") >= col("total"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("qty")).as("wmedian_qty"),
        max(col("total")).cast("double").as("total_revenue"))
      .orderBy("l_returnflag")
  }

  val q149Sql: String =
    """WITH census AS (
      |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
      |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |      AS wgt
      |  FROM lineitem GROUP BY 1, 2),
      |cw AS (
      |  SELECT l_returnflag, qty, wgt,
      |    SUM(wgt) OVER (PARTITION BY l_returnflag ORDER BY qty
      |                   ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(wgt) OVER (PARTITION BY l_returnflag) AS total
      |  FROM census)
      |SELECT l_returnflag, MIN(qty) AS wmedian_qty,
      |  CAST(MAX(total) AS DOUBLE) AS total_revenue
      |FROM cw WHERE cum + cum >= total
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q178
  /** Exact 10%-trimmed mean of order value per priority — the robust
    * location estimate between q70's MAD gate (which needs a center
    * first) and a plain mean an outlier can drag anywhere: drop the
    * lowest and highest ⌊n/10⌋ orders of each priority and average the
    * middle 80% exactly.
    *
    * The distributed form is deliberately NOT a per-group global-sort
    * window: ranks come from ONE [[graft.operators.RangeRank
    * .withGlobalRank]] pass over the total order (priority, price, key),
    * and each group's LOCAL rank is the global rank minus the group's
    * exclusive prefix count — a ≤|groups|-row cumulative offset
    * broadcast back. Because the sort key leads with the group, a
    * group's rows are contiguous in the total order, so rank-in-group =
    * global_rank − offset exactly. This is the q139/q143 migration path
    * applied to GROUPED trimming: no WindowExec ever sees more than one
    * range partition, and groups can be arbitrarily skewed.
    *
    * Exactness: trim bounds are integer arithmetic on exact counts;
    * kept-row sums are exact decimals; the two means are one double
    * division each. Ranks are deterministic (orderkey tiebreak).
    *
    * Scale shape: one range shuffle (RangeRank) + one broadcast of the
    * group-offset table + one map-combinable final agg. Linear, fully
    * parallel, skew-immune. */
  def q178TrimmedMean(spark: SparkSession, dir: String): DataFrame = {
    val o = Kpis.table(spark, dir, "orders")
      .select(col("o_orderpriority").as("pri"), col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,4)").as("price"))
    val ranked = graft.operators.RangeRank.withGlobalRank(
      o, "gr", Seq(col("pri"), col("price"), col("o_orderkey")))
    val offsets = ranked.groupBy(col("pri")).agg(count(lit(1)).as("n_g"))
      .withColumn("off",
        coalesce(sum(col("n_g")).over(Window.orderBy(col("pri"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    ranked
      .join(broadcast(offsets), Seq("pri"))
      .withColumn("rg", col("gr") - col("off"))
      .withColumn("k", expr("n_g div 10"))
      .groupBy(col("pri"))
      .agg(
        max(col("n_g")).as("n_orders"),
        max(col("k")).cast("long").as("n_trimmed_each_side"),
        (sum(col("price")).cast("double") /
          count(lit(1)).cast("double")).as("mean_all"),
        (sum(when(col("rg") > col("k") && col("rg") <= col("n_g") - col("k"),
          col("price"))).cast("double") /
          sum(when(col("rg") > col("k") && col("rg") <= col("n_g") - col("k"),
            lit(1L)).otherwise(lit(0L))).cast("double")).as("mean_trimmed"))
      .orderBy("pri")
  }

  val q178Sql: String =
    """WITH o AS (
      |  SELECT o_orderpriority AS pri, o_orderkey,
      |    CAST(o_totalprice AS DECIMAL(18,4)) AS price
      |  FROM orders),
      |r AS (
      |  SELECT pri, price,
      |    ROW_NUMBER() OVER (PARTITION BY pri ORDER BY price, o_orderkey)
      |      AS rg,
      |    COUNT(*) OVER (PARTITION BY pri) AS n_g
      |  FROM o),
      |t AS (SELECT *, n_g // 10 AS k FROM r)
      |SELECT pri, CAST(MAX(n_g) AS BIGINT) AS n_orders,
      |  CAST(MAX(k) AS BIGINT) AS n_trimmed_each_side,
      |  CAST(SUM(price) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_all,
      |  CAST(SUM(CASE WHEN rg > k AND rg <= n_g - k THEN price END)
      |       AS DOUBLE) /
      |    CAST(SUM(CASE WHEN rg > k AND rg <= n_g - k THEN 1 ELSE 0 END)
      |         AS DOUBLE) AS mean_trimmed
      |FROM t GROUP BY pri ORDER BY pri""".stripMargin

  // --------------------------------------------------------------- q199
  /** Discount elasticity per brand: the OLS slope of line-item quantity
    * on discount over every sale of the brand's parts — "does
    * discounting actually move volume, and for which brands?" The
    * merchandising question behind TPC-H Q19's revenue bands, answered
    * with q69's closed-form machinery: slope > 0 = discounts correlate
    * with bigger quantities (working promotions), ≈ 0 = margin given
    * away for nothing.
    *
    * Exactness: x (discount) and y (quantity) are narrowed to exact
    * decimals; all five OLS sums are exact decimal aggregates with
    * widths chosen so every sum's unscaled value stays far below 2^53
    * (direct-cast-exact in both engines — the q183 discipline); slope
    * and intercept are one double chain (q130's spelling).
    *
    * Scale shape: lineitem joins the part dim via broadcast, then ONE
    * map-combinable agg to |brands| rows. No window. */
  def q199DiscountElasticity(spark: SparkSession, dir: String): DataFrame = {
    val li = Kpis.table(spark, dir, "lineitem")
      .select(col("l_partkey"),
        col("l_discount").cast("decimal(8,4)").as("x"),
        col("l_quantity").cast("decimal(12,4)").as("y"))
    val parts = Kpis.table(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"))
    li.join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_sales"),
        count(lit(1)).cast("double").as("n_d"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"))
      .select(col("p_brand"), col("n_sales"),
        ((col("n_d") * col("sxy") - col("sx") * col("sy")) /
          (col("n_d") * col("sxx") - col("sx") * col("sx")))
          .as("slope_qty_per_discount"),
        ((col("sy") -
          ((col("n_d") * col("sxy") - col("sx") * col("sy")) /
            (col("n_d") * col("sxx") - col("sx") * col("sx"))) * col("sx"))
          / col("n_d")).as("intercept_qty"))
      .orderBy("p_brand")
  }

  val q199Sql: String =
    """WITH j AS (
      |  SELECT p_brand,
      |    CAST(l_discount AS DECIMAL(8,4)) AS x,
      |    CAST(l_quantity AS DECIMAL(12,4)) AS y
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |s AS (
      |  SELECT p_brand, COUNT(*) AS n_sales,
      |    CAST(COUNT(*) AS DOUBLE) AS n_d,
      |    CAST(SUM(x) AS DOUBLE) AS sx,
      |    CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
      |    CAST(SUM(x * x) AS DOUBLE) AS sxx
      |  FROM j GROUP BY 1)
      |SELECT p_brand, n_sales,
      |  (n_d * sxy - sx * sy) / (n_d * sxx - sx * sx)
      |    AS slope_qty_per_discount,
      |  (sy - ((n_d * sxy - sx * sy) / (n_d * sxx - sx * sx)) * sx) / n_d
      |    AS intercept_qty
      |FROM s ORDER BY p_brand""".stripMargin

  // --------------------------------------------------------------- q196
  /** Exact equi-DEPTH histogram of lineitem extended price: ten bins of
    * equal row count with their exact boundaries and exact decimal
    * mass. q84 fixes the bin WIDTH and lets counts vary; this fixes the
    * COUNT and reports where the boundaries land — the histogram an
    * optimizer's statistics collector and a fairness/SLA report
    * actually need (equal-width bins are useless on skewed money
    * columns: one bin gets 90% of rows).
    *
    * The point of this entry is WHERE the ntile runs: over the FACT
    * table, on [[graft.operators.RangeRank.withNtile]] — a range
    * shuffle + partitioned local ranks + a broadcast offset join, exact
    * SQL NTILE semantics with no single-partition window anywhere.
    * q139/q143 certified the operator at entity scale; this is the
    * fact-scale certification (600k rows at sf0.1, 10× linear), i.e.
    * the configuration that would actually matter at 100 TB.
    *
    * Exactness: ntile is exact by the operator's contract (bit-equal to
    * NTILE(10) over the same total order — price with the (orderkey,
    * linenumber) unique tiebreak); min/max/sums are exact decimals;
    * the mean is one double division. */
  def q196EquidepthHist(spark: SparkSession, dir: String): DataFrame = {
    val li = Kpis.table(spark, dir, "lineitem")
      .select(col("l_extendedprice").cast("decimal(18,4)").as("price"),
        col("l_orderkey"), col("l_linenumber"))
    graft.operators.RangeRank
      .withNtile(li, "bin", 10,
        Seq(col("price"), col("l_orderkey"), col("l_linenumber")))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("price")).cast("double").as("lo"),
        max(col("price")).cast("double").as("hi"),
        (sum(col("price")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_price"))
      .orderBy("bin")
  }

  val q196Sql: String =
    """WITH r AS (
      |  SELECT CAST(l_extendedprice AS DECIMAL(18,4)) AS price,
      |    NTILE(10) OVER (ORDER BY CAST(l_extendedprice AS DECIMAL(18,4)),
      |                    l_orderkey, l_linenumber) AS bin
      |  FROM lineitem)
      |SELECT CAST(bin AS INTEGER) AS bin, COUNT(*) AS n_rows,
      |  CAST(MIN(price) AS DOUBLE) AS lo,
      |  CAST(MAX(price) AS DOUBLE) AS hi,
      |  CAST(SUM(price) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_price
      |FROM r GROUP BY bin ORDER BY bin""".stripMargin

  // --------------------------------------------------------------- q223
  /** Exact tail percentiles of line revenue — p50/p90/p99/p999 by
    * type-1 (order-statistic) selection at FACT scale: target rank
    * ⌈p·n⌉ computed in pure integer arithmetic ((n·k + 999) div 1000
    * for p = k/1000 — no float at the rank boundary), value picked by
    * exact global rank. The SLO-grade tail readout (p99 is a real
    * observed value, not an interpolation), certifying the exact path
    * that q117's mergeable sketch approximates and q196 buckets.
    *
    * Scale shape: [[graft.operators.RangeRank.withGlobalRank]] — range
    * shuffle + partitioned local ranks + broadcast offsets — then a
    * broadcast join against the 4-row target table. No
    * single-partition pass over the fact (the oracle spells the
    * one-window form; bit-identical). */
  def q223ExactPercentiles(spark: SparkSession, dir: String): DataFrame =
    graft.operators.RangeRank.quantiles(
      Kpis.table(spark, dir, "lineitem")
        .select(
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)").as("v"),
          col("l_orderkey"), col("l_linenumber")),
      col("v"), Seq(col("l_orderkey"), col("l_linenumber")),
      Seq(500, 900, 990, 999))
      .select(col("pct"), col("rank"), col("n"),
        col("value").cast("double").as("value"))
      .orderBy("pct")

  val q223Sql: String =
    """WITH li AS (
      |  SELECT CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
      |      AS v,
      |    l_orderkey, l_linenumber
      |  FROM lineitem),
      |r AS (
      |  SELECT v, CAST(row_number() OVER
      |    (ORDER BY v, l_orderkey, l_linenumber) AS BIGINT) AS rk
      |  FROM li),
      |t AS (
      |  SELECT k, (SELECT COUNT(*) FROM li) AS n,
      |    ((SELECT COUNT(*) FROM li) * k + 999) // 1000 AS target
      |  FROM (SELECT unnest([500, 900, 990, 999]) AS k) ks)
      |SELECT CAST(k AS DOUBLE) / 1000.0 AS pct, target AS rank, n,
      |  CAST(v AS DOUBLE) AS value
      |FROM r JOIN t ON r.rk = t.target
      |ORDER BY pct""".stripMargin

  // --------------------------------------------------------------- q225
  /** Tie-corrected Spearman rank correlation between quantity and
    * discount — monotone association robust to the heavy ties of
    * discrete columns (midranks, the textbook correction), answering
    * "do bigger lines get deeper discounts?" without assuming
    * linearity. q72 is the Pearson sibling; q203 the two-sample rank
    * test.
    *
    * Scale + exactness shape: ranks NEVER materialize per row. The
    * fact collapses to the |X|·|Y| JOINT census in one map-combinable
    * agg; doubled midranks (2·cum_before + t + 1) are exact integers
    * off each marginal census; every Spearman moment is a per-CELL
    * double term rounded into DECIMAL(24,12) before the ≤550-cell
    * exact sum (never a multi-row double sum); ρ is one closed-form
    * double. The two cum windows run over the 50-row / 11-row marginal
    * censuses (WindowGuardSpec-pinned). */
  def q225Spearman(spark: SparkSession, dir: String): DataFrame = {
    val joint = Kpis.table(spark, dir, "lineitem")
      .groupBy(col("l_quantity").cast("decimal(18,2)").as("x"),
        col("l_discount").cast("decimal(18,2)").as("y"))
      .agg(count(lit(1)).as("cnt"))
    def marginal(key: String, out: String): DataFrame = {
      val cum = Window.orderBy(col(key))
        .rowsBetween(Window.unboundedPreceding, -1)
      joint.groupBy(col(key)).agg(sum(col("cnt")).as("t"))
        .withColumn("cb", coalesce(sum(col("t")).over(cum), lit(0L)))
        .select(col(key), (lit(2) * col("cb") + col("t") + 1).as(out))
    }
    val n1 = joint.agg(sum(col("cnt")).as("n"))
    val cells = joint
      .join(broadcast(marginal("x", "ax")), "x")
      .join(broadcast(marginal("y", "ay")), "y")
      .crossJoin(broadcast(n1))
      .withColumn("rx",
        col("ax").cast("double") / (lit(2.0) * col("n").cast("double")))
      .withColumn("ry",
        col("ay").cast("double") / (lit(2.0) * col("n").cast("double")))
    def t(e: Column, name: String): Column =
      sum(round(e, 12).cast("decimal(24,12)")).as(name)
    cells
      .groupBy(col("n"))
      .agg(
        t(col("cnt") * col("rx") * col("ry"), "s_xy"),
        t(col("cnt") * col("rx"), "s_x"),
        t(col("cnt") * col("ry"), "s_y"),
        t(col("cnt") * col("rx") * col("rx"), "s_xx"),
        t(col("cnt") * col("ry") * col("ry"), "s_yy"))
      .select(col("n"),
        (round(
          (col("n").cast("double") * col("s_xy").cast("double") -
            col("s_x").cast("double") * col("s_y").cast("double")) /
            sqrt(
              (col("n").cast("double") * col("s_xx").cast("double") -
                col("s_x").cast("double") * col("s_x").cast("double")) *
                (col("n").cast("double") * col("s_yy").cast("double") -
                  col("s_y").cast("double") * col("s_y").cast("double"))),
          6) + lit(0.0)).as("spearman_rho"))
  }

  val q225Sql: String =
    """WITH joint AS (
      |  SELECT CAST(l_quantity AS DECIMAL(18,2)) AS x,
      |    CAST(l_discount AS DECIMAL(18,2)) AS y, COUNT(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |mx AS (
      |  SELECT x, 2 * COALESCE(SUM(t) OVER (ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1
      |      AS ax
      |  FROM (SELECT x, CAST(SUM(cnt) AS BIGINT) AS t FROM joint
      |        GROUP BY 1)),
      |my AS (
      |  SELECT y, 2 * COALESCE(SUM(t) OVER (ORDER BY y
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1
      |      AS ay
      |  FROM (SELECT y, CAST(SUM(cnt) AS BIGINT) AS t FROM joint
      |        GROUP BY 1)),
      |nn AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM joint),
      |cells AS (
      |  SELECT j.cnt, n,
      |    CAST(ax AS DOUBLE) / (2.0 * CAST(n AS DOUBLE)) AS rx,
      |    CAST(ay AS DOUBLE) / (2.0 * CAST(n AS DOUBLE)) AS ry
      |  FROM joint j
      |  JOIN mx ON j.x = mx.x JOIN my ON j.y = my.y CROSS JOIN nn),
      |s AS (
      |  SELECT n,
      |    SUM(CAST(round(cnt * rx * ry, 12) AS DECIMAL(24,12))) AS s_xy,
      |    SUM(CAST(round(cnt * rx, 12) AS DECIMAL(24,12))) AS s_x,
      |    SUM(CAST(round(cnt * ry, 12) AS DECIMAL(24,12))) AS s_y,
      |    SUM(CAST(round(cnt * rx * rx, 12) AS DECIMAL(24,12))) AS s_xx,
      |    SUM(CAST(round(cnt * ry * ry, 12) AS DECIMAL(24,12))) AS s_yy
      |  FROM cells GROUP BY 1)
      |SELECT n,
      |  round(
      |    (CAST(n AS DOUBLE) * CAST(s_xy AS DOUBLE) -
      |     CAST(s_x AS DOUBLE) * CAST(s_y AS DOUBLE)) /
      |    sqrt(
      |      (CAST(n AS DOUBLE) * CAST(s_xx AS DOUBLE) -
      |       CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE)) *
      |      (CAST(n AS DOUBLE) * CAST(s_yy AS DOUBLE) -
      |       CAST(s_y AS DOUBLE) * CAST(s_y AS DOUBLE))), 6) + 0.0
      |    AS spearman_rho
      |FROM s""".stripMargin

  // --------------------------------------------------------------- q231
  /** Freedman–Diaconis histogram planning: exact quartiles of line
    * revenue (type-1 selection at ⌈n/4⌉ and ⌈3n/4⌉, q223's integer-rank
    * discipline), bin width 2·IQR/n^⅓, and the recommended bin count
    * for the observed range. The planner that sizes q84's equi-width
    * histogram from the data instead of a guessed constant.
    *
    * Scale shape: one RangeRank global-rank pass + a broadcast 2-row
    * target join + a 1-row min/max/count aggregate. */
  def q231FdBinning(spark: SparkSession, dir: String): DataFrame = {
    val li = Kpis.table(spark, dir, "lineitem")
      .select(
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)").as("v"),
        col("l_orderkey"), col("l_linenumber"))
    val ranked = graft.operators.RangeRank.withGlobalRank(
      li, "rk", Seq(col("v"), col("l_orderkey"), col("l_linenumber")))
    val tot = li.agg(count(lit(1)).as("n"),
      min(col("v")).as("vmin"), max(col("v")).as("vmax"))
    val targets = spark.range(1)
      .select(explode(array(lit(250), lit(750))).as("k"))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("n"), col("vmin"), col("vmax"),
        expr("(n * k + 999) div 1000").as("target"))
    ranked.join(broadcast(targets), col("rk") === col("target"))
      .groupBy(col("n"), col("vmin"), col("vmax"))
      .agg(
        min(when(col("k") === 250, col("v"))).as("q1"),
        min(when(col("k") === 750, col("v"))).as("q3"))
      .select(
        col("n"),
        col("q1").cast("double").as("q1"),
        col("q3").cast("double").as("q3"),
        (col("q3") - col("q1")).cast("double").as("iqr"),
        (round(lit(2.0) * (col("q3") - col("q1")).cast("double") /
          pow(col("n").cast("double"), lit(1.0) / lit(3.0)), 6) + lit(0.0))
          .as("fd_width"),
        ceil((col("vmax") - col("vmin")).cast("double") /
          (lit(2.0) * (col("q3") - col("q1")).cast("double") /
            pow(col("n").cast("double"), lit(1.0) / lit(3.0))))
          .cast("long").as("fd_bins"))
  }

  val q231Sql: String =
    """WITH li AS (
      |  SELECT CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
      |      AS v,
      |    l_orderkey, l_linenumber
      |  FROM lineitem),
      |r AS (
      |  SELECT v, CAST(row_number() OVER
      |    (ORDER BY v, l_orderkey, l_linenumber) AS BIGINT) AS rk
      |  FROM li),
      |tot AS (
      |  SELECT COUNT(*) AS n, MIN(v) AS vmin, MAX(v) AS vmax FROM li),
      |t AS (
      |  SELECT k, n, vmin, vmax, (n * k + 999) // 1000 AS target
      |  FROM (SELECT unnest([250, 750]) AS k) ks, tot),
      |q AS (
      |  SELECT n, vmin, vmax,
      |    MIN(CASE WHEN k = 250 THEN v END) AS q1,
      |    MIN(CASE WHEN k = 750 THEN v END) AS q3
      |  FROM r JOIN t ON r.rk = t.target GROUP BY 1, 2, 3)
      |SELECT n, CAST(q1 AS DOUBLE) AS q1, CAST(q3 AS DOUBLE) AS q3,
      |  CAST(q3 - q1 AS DOUBLE) AS iqr,
      |  round(2.0 * CAST(q3 - q1 AS DOUBLE) /
      |    pow(CAST(n AS DOUBLE), 1.0 / 3.0), 6) + 0.0 AS fd_width,
      |  CAST(ceil(CAST(vmax - vmin AS DOUBLE) /
      |    (2.0 * CAST(q3 - q1 AS DOUBLE) /
      |     pow(CAST(n AS DOUBLE), 1.0 / 3.0))) AS BIGINT) AS fd_bins
      |FROM q""".stripMargin

  // --------------------------------------------------------------- q249
  /** Newsvendor stocking levels for the top-10 revenue parts: the
    * critical-fractile rule says stock the service-level quantile of
    * per-order demand — here the EXACT 90th-percentile line quantity
    * (type-1, rank ⌈0.9·n⌉ in pure integer arithmetic), next to the
    * mean that a naive plan would stock. The per-GROUP companion of
    * q223's global percentiles: the quantile windows are PARTITIONED by
    * part (parallel at any scale), never global.
    *
    * Exactness: quantities are exact decimals; target ranks are
    * integer ((9n+9) div 10); the top-10 part selection is a
    * deterministic revenue order.
    *
    * Scale shape: one revenue rollup → broadcast top-10 semi-join
    * prunes the fact BEFORE the rank window (only 10 parts' rows sort);
    * per-part windows are partitioned. */
  def q249Newsvendor(spark: SparkSession, dir: String): DataFrame = {
    val li = Kpis.table(spark, dir, "lineitem")
    val top = li
      .groupBy(col("l_partkey"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).as("rev"))
      .orderBy(desc("rev"), asc("l_partkey")).limit(10)
      .select(col("l_partkey").as("tp"),
        col("rev").cast("double").as("revenue"))
    val w = Window.partitionBy(col("l_partkey"))
      .orderBy(col("q"), col("l_orderkey"), col("l_linenumber"))
    val ranked = li
      .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("decimal(18,2)").as("q"))
      .join(broadcast(top), col("l_partkey") === col("tp"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n_obs",
        count(lit(1)).over(Window.partitionBy(col("l_partkey"))))
    ranked
      .filter(col("rk") === expr("(n_obs * 9 + 9) div 10"))
      .select(col("l_partkey"), col("n_obs"), col("revenue"),
        col("q").cast("double").as("q90_qty"))
      .orderBy(desc("revenue"), asc("l_partkey"))
  }

  val q249Sql: String =
    """WITH rev AS (
      |  SELECT l_partkey,
      |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |      AS rev
      |  FROM lineitem GROUP BY 1),
      |top AS (
      |  SELECT l_partkey AS tp, CAST(rev AS DOUBLE) AS revenue
      |  FROM rev ORDER BY rev DESC, l_partkey LIMIT 10),
      |r AS (
      |  SELECT l_partkey, revenue,
      |    CAST(l_quantity AS DECIMAL(18,2)) AS q,
      |    CAST(row_number() OVER (PARTITION BY l_partkey
      |      ORDER BY CAST(l_quantity AS DECIMAL(18,2)), l_orderkey,
      |        l_linenumber) AS BIGINT) AS rk,
      |    COUNT(*) OVER (PARTITION BY l_partkey) AS n_obs
      |  FROM lineitem JOIN top ON l_partkey = tp)
      |SELECT l_partkey, n_obs, revenue, CAST(q AS DOUBLE) AS q90_qty
      |FROM r WHERE rk = (n_obs * 9 + 9) // 10
      |ORDER BY revenue DESC, l_partkey""".stripMargin

  // --------------------------------------------------------------- q258
  /** Hill tail-index estimator of the customer-spend distribution: over
    * the top-decile order statistics x₍₁₎ ≥ … ≥ x₍ₖ₎ with threshold
    * x₍ₖ₊₁₎, α̂ = k / Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎). The tail-heaviness number the
    * inequality family lacks: q174's Gini and q143's deciles describe
    * the WHOLE distribution; α̂ says how the extreme tail decays
    * (α ≤ 2 ⇒ infinite variance — means and CIs on spend stop being
    * meaningful; capacity planning must switch to quantiles).
    *
    * Exactness: per-customer spend is the exact BIGINT cent rollup; the
    * rank is RangeRank's exact global rank under the total order
    * (spend DESC, custkey) — bit-identical to the oracle's row_number.
    * Each tail term ln(xᵢ/x₍ₖ₊₁₎) is ln9-snapped (weight 1 ⇒ the k-term
    * sum is exact DECIMAL arithmetic); α̂ is one closing double
    * division on identical operands.
    *
    * Scale shape: orders collapse to the per-customer entity table in
    * one map-combinable agg; the global rank is RangeRank's two linear
    * shuffles (range + hash), NO single-partition window; the threshold
    * row is a 1-row broadcast. Survives any entity-table size. */
  def q258HillTailIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactMath.ln9
    import graft.operators.RangeRank
    val spend = Kpis.table(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
    val ranked = RangeRank.withGlobalRank(spend, "rk",
      Seq(col("x").desc, col("o_custkey").asc))
    val n = spend.count()
    val k = n / 10
    val thr = ranked.filter(col("rk") === (k + 1))
      .select(col("x").as("x_thr"))
    ranked.filter(col("rk") <= k)
      .crossJoin(broadcast(thr))
      .select(
        ln9(col("x").cast("double") / col("x_thr").cast("double")).as("t"),
        col("x_thr"))
      .agg(
        lit(n).as("n_customers"),
        lit(k).as("k_tail"),
        (max(col("x_thr")).cast("double") / lit(100.0)).as("threshold_spend"),
        (lit(k).cast("double") / sum(col("t")).cast("double"))
          .as("hill_alpha"))
  }

  val q258Sql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS x
      |  FROM orders GROUP BY 1),
      |ranked AS (
      |  SELECT x, CAST(row_number() OVER (ORDER BY x DESC, o_custkey)
      |    AS BIGINT) AS rk, COUNT(*) OVER () AS n
      |  FROM spend),
      |thr AS (SELECT x AS x_thr FROM ranked WHERE rk = n // 10 + 1),
      |tail AS (
      |  SELECT CAST(round(ln(CAST(r.x AS DOUBLE) /
      |      CAST(t.x_thr AS DOUBLE)), 9) AS DECIMAL(12,9)) AS t,
      |    t.x_thr, r.n
      |  FROM ranked r, thr t WHERE r.rk <= r.n // 10)
      |SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
      |  CAST(MAX(n) // 10 AS BIGINT) AS k_tail,
      |  CAST(MAX(x_thr) AS DOUBLE) / 100.0 AS threshold_spend,
      |  CAST(MAX(n) // 10 AS DOUBLE) / CAST(SUM(t) AS DOUBLE) AS hill_alpha
      |FROM tail""".stripMargin

  // --------------------------------------------------------------- q271
  /** Negative-binomial fit of per-customer ORDER COUNTS per market
    * segment, by method of moments: r̂ = m̄²/(s² − m̄), p̂ = m̄/s² —
    * the parametric step after q264's dispersion verdict: once counts
    * are known to be overdispersed (s² > m̄, which Poisson can't
    * express), NB(r, p) is the standard purchase-frequency model, and
    * (r̂, p̂) feed directly into expected-purchases forecasts and
    * "probability a customer is alive" scores (the NBD half of
    * BG/NBD). Segments where s² ≤ m̄ get NULL parameters — the honest
    * "Poisson is enough here" answer rather than a garbage negative r.
    *
    * Exactness: counts include the ZERO class (customer left join,
    * 0-fill — dropping silent customers biases m̄ up and the fit
    * wrong); n, Σx, Σx² are exact (x² widened to DECIMAL); the moment
    * chain is one double expression spelled identically, 6-dp-rounded,
    * −0.0-guarded, NULL-guarded on the overdispersion condition in
    * exact integer space (n·Σx² − (Σx)² > Σx·n compares exact
    * decimals, so the branch cannot disagree between engines).
    *
    * Scale shape: orders collapse map-combinably per customer; the
    * segment census is one entity-scale agg. No window. */
  def q271NegbinFit(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Kpis.table(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("x0"))
    val xy = Kpis.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
      .join(cnt, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_mktsegment").as("segment"),
        // (7,0): a customer places < 10⁷ orders; the narrow width keeps
        // every product in the exact inequality below within DECIMAL(38)
        coalesce(col("x0"), lit(0L)).cast("decimal(7,0)").as("x"))
    val st = xy.groupBy(col("segment"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2"))
    val n = col("n").cast("double")
    val mean = col("s1").cast("double") / n
    val variance = (col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / n) /
      (n - lit(1.0))
    // overdispersion decided in EXACT space: s² > m̄ ⇔
    // n·Σx² − (Σx)² > Σx·(n−1) with exact decimals — spell both
    // engines on the same exact inequality so the NULL branch agrees
    val nDec = col("n").cast("decimal(10,0)")
    val over = nDec * col("s2") - col("s1") * col("s1") >
      col("s1") * (nDec - lit(1).cast("decimal(10,0)"))
    st.select(col("segment"), col("n").as("n_customers"),
        (round(mean, 6) + lit(0.0)).as("mean_orders"),
        (round(variance, 6) + lit(0.0)).as("var_orders"),
        when(over, round(mean * mean / (variance - mean), 6) + lit(0.0))
          .as("nb_r"),
        when(over, round(mean / variance, 6) + lit(0.0)).as("nb_p"))
      .orderBy("segment")
  }

  val q271Sql: String =
    """WITH cnt AS (
      |  SELECT o_custkey, COUNT(*) AS x0 FROM orders GROUP BY 1),
      |xy AS (
      |  SELECT c_mktsegment AS segment,
      |    CAST(COALESCE(x0, 0) AS DECIMAL(7,0)) AS x
      |  FROM customer LEFT JOIN cnt ON c_custkey = o_custkey),
      |st AS (
      |  SELECT segment, COUNT(*) AS n, SUM(x) AS s1, SUM(x * x) AS s2
      |  FROM xy GROUP BY 1),
      |m AS (
      |  SELECT segment, n,
      |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
      |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS var,
      |    CAST(n AS DECIMAL(10,0)) * s2 - s1 * s1 >
      |      s1 * (CAST(n AS DECIMAL(10,0)) - CAST(1 AS DECIMAL(10,0)))
      |      AS over
      |  FROM st)
      |SELECT segment, n AS n_customers,
      |  round(mean, 6) + 0.0 AS mean_orders,
      |  round(var, 6) + 0.0 AS var_orders,
      |  CASE WHEN over THEN round(mean * mean / (var - mean), 6) + 0.0
      |    END AS nb_r,
      |  CASE WHEN over THEN round(mean / var, 6) + 0.0 END AS nb_p
      |FROM m ORDER BY segment""".stripMargin

  // --------------------------------------------------------------- q274
  /** Law-of-one-price audit: the 20 parts (≥ 10 sale lines) whose
    * realized UNIT price disperses most across line items, measured by
    * the coefficient of variation of the per-line unit price, with the
    * min/max unit-price ratio alongside. Near-zero CV says the part
    * trades at list (pricing discipline holds); a fat CV flags
    * discount leakage, unit mix-ups, or data-entry corruption — the
    * pricing-QA screen that runs beside q218's rule census and feeds
    * q199's elasticity fits (which silently assume price VARIATION is
    * signal, not noise).
    *
    * Exactness: each line's unit price is snapped once to the 4-dp
    * DECIMAL grid (the monetary grid prices live on), so n, Σp, Σp²
    * are exact decimal sums and min/max are exact decimal comparisons;
    * the CV chain is one double expression, 6-dp-rounded; the top-20
    * order is total (rounded CV desc, partkey).
    *
    * Scale shape: one map-combinable per-part agg off the scan; the
    * top-20 lowers to TakeOrderedAndProject. No join, no window. */
  def q274PriceDispersion(spark: SparkSession, dir: String): DataFrame = {
    // r17 inherited-state fix: the 4-dp unit-price snap is EXACT integer
    // half-up — round(double, 4) diverges cross-engine exactly on this
    // query's data because cents·100/qty ties at 4 dp whenever qty
    // divides 2·10⁶ (Spark rounds the double's shortest-string form up,
    // DuckDB's multiply-path lands below the tie), which flipped one
    // sf0.001 top-20 mean by 4e-6. (2·num + den) div (2·den) is true
    // HALF_UP of the exact rational (all positive here); the decimal
    // reconstruction keeps every downstream spelling byte-identical.
    val st = Kpis.table(spark, dir, "lineitem")
      .filter(col("l_quantity") > 0)
      .select(col("l_partkey"), expr(
        "CAST(CAST((2 * CAST(round(l_extendedprice * 100) AS BIGINT) * 100" +
          " + CAST(l_quantity AS BIGINT))" +
          " div (2 * CAST(l_quantity AS BIGINT)) AS DECIMAL(18,0)) / 10000" +
          " AS DECIMAL(18,4))").as("p"))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("p")).as("s1"),
        sum((col("p") * col("p")).cast("decimal(38,8)")).as("s2"),
        min(col("p")).as("pmin"), max(col("p")).as("pmax"))
      .filter(col("n_lines") >= 10)
    val n = col("n_lines").cast("double")
    val mean = col("s1").cast("double") / n
    val variance = (col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / n) /
      (n - lit(1.0))
    st.select(col("l_partkey"), col("n_lines"),
        (round(mean, 6) + lit(0.0)).as("mean_unit_price"),
        (round(sqrt(variance) / mean, 6) + lit(0.0)).as("price_cv"),
        (round(col("pmax").cast("double") / col("pmin").cast("double"), 6)
          + lit(0.0)).as("max_min_ratio"))
      .orderBy(col("price_cv").desc, col("l_partkey"))
      .limit(20)
  }

  val q274Sql: String =
    """WITH pl AS (
      |  SELECT l_partkey,
      |    CAST(CAST((2 * CAST(round(l_extendedprice * 100) AS BIGINT) * 100
      |        + CAST(l_quantity AS BIGINT))
      |      // (2 * CAST(l_quantity AS BIGINT)) AS DECIMAL(18,0)) / 10000
      |      AS DECIMAL(18,4)) AS p
      |  FROM lineitem WHERE l_quantity > 0),
      |st AS (
      |  SELECT l_partkey, COUNT(*) AS n_lines,
      |    SUM(p) AS s1,
      |    SUM(CAST(CAST(p AS DECIMAL(19,4)) * CAST(p AS DECIMAL(19,4))
      |      AS DECIMAL(38,8))) AS s2,
      |    MIN(p) AS pmin, MAX(p) AS pmax
      |  FROM pl GROUP BY 1 HAVING COUNT(*) >= 10)
      |SELECT l_partkey, n_lines,
      |  round(CAST(s1 AS DOUBLE) / CAST(n_lines AS DOUBLE), 6) + 0.0
      |    AS mean_unit_price,
      |  round(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) *
      |      CAST(s1 AS DOUBLE) / CAST(n_lines AS DOUBLE)) /
      |      (CAST(n_lines AS DOUBLE) - 1.0)) /
      |    (CAST(s1 AS DOUBLE) / CAST(n_lines AS DOUBLE)), 6) + 0.0
      |    AS price_cv,
      |  round(CAST(pmax AS DOUBLE) / CAST(pmin AS DOUBLE), 6) + 0.0
      |    AS max_min_ratio
      |FROM st
      |ORDER BY price_cv DESC, l_partkey
      |LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q280
  /** Simpson's-paradox screen on the discount→quantity relationship:
    * the pooled OLS slope of quantity on discount across ALL lineitems
    * vs the per-brand slopes, counting brands whose slope SIGN opposes
    * the pooled sign. The aggregation-bias audit q199's per-brand
    * elasticities assume away: a positive pooled slope with half the
    * brands negative means "discounts work" is an artifact of WHICH
    * brands discount, not a causal lever — the classic trap in any
    * observational revenue analysis.
    *
    * Exactness: the OLS slope sign is the sign of n·Σxy − Σx·Σy, a
    * PURE exact-decimal quantity (x = 2-dp discount, y = 2-dp
    * quantity; widths chosen so every product stays inside
    * DECIMAL(38)) — so the reversal COUNT involves no floating point
    * at all; only the reported pooled slope value is a closing double,
    * 6-dp-rounded. Brands with zero discount variance (exact
    * denominator = 0) are excluded in exact space.
    *
    * Scale shape: ONE map-combinable per-brand moment agg off the
    * lineitem↔part broadcast join; the pooled row is the same sums
    * re-aggregated; everything after is a |brands| census. */
  def q280SimpsonScreen(spark: SparkSession, dir: String): DataFrame = {
    val p = broadcast(Kpis.table(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand")))
    val base = Kpis.table(spark, dir, "lineitem")
      .select(col("l_partkey"),
        col("l_discount").cast("decimal(4,2)").as("x"),
        col("l_quantity").cast("decimal(9,2)").as("y"))
      .join(p, col("l_partkey") === col("p_partkey"))
    val byBrand = base.groupBy(col("p_brand"))
      .agg(count(lit(1)).cast("decimal(11,0)").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(14,4)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(9,4)")).as("sxx"))
    val num = (col("n") * col("sxy")).cast("decimal(38,4)") -
      (col("sx") * col("sy")).cast("decimal(38,4)")
    val den = (col("n") * col("sxx")).cast("decimal(38,4)") -
      (col("sx") * col("sx")).cast("decimal(38,4)")
    val brands = byBrand
      .select(col("p_brand"), num.as("num"), den.as("den"))
      .filter(col("den") > 0)
    // re-narrow the re-aggregated sums (sum() widens by 10 digits) so
    // the pooled n·Σxy product stays inside DECIMAL(38)
    val pooled = byBrand.agg(
        sum(col("n")).cast("decimal(12,0)").as("n"),
        sum(col("sx")).cast("decimal(15,2)").as("sx"),
        sum(col("sy")).cast("decimal(20,2)").as("sy"),
        sum(col("sxy")).cast("decimal(25,4)").as("sxy"),
        sum(col("sxx")).cast("decimal(20,4)").as("sxx"))
      .select(
        ((col("n") * col("sxy")).cast("decimal(38,4)") -
          (col("sx") * col("sy")).cast("decimal(38,4)")).as("pnum"),
        ((col("n") * col("sxx")).cast("decimal(38,4)") -
          (col("sx") * col("sx")).cast("decimal(38,4)")).as("pden"))
    brands.crossJoin(broadcast(pooled))
      .agg(
        (round(max(col("pnum")).cast("double") /
          max(col("pden")).cast("double"), 6) + lit(0.0))
          .as("pooled_slope"),
        count(lit(1)).as("n_brands"),
        sum(when((col("num") > 0 && col("pnum") < 0) ||
          (col("num") < 0 && col("pnum") > 0), 1L).otherwise(0L))
          .as("n_reversed"))
      .withColumn("share_reversed",
        round(col("n_reversed").cast("double") /
          col("n_brands").cast("double"), 6) + lit(0.0))
  }

  val q280Sql: String =
    """WITH base AS (
      |  SELECT p_brand,
      |    CAST(l_discount AS DECIMAL(4,2)) AS x,
      |    CAST(l_quantity AS DECIMAL(9,2)) AS y
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |bb AS (
      |  SELECT p_brand, CAST(COUNT(*) AS DECIMAL(11,0)) AS n,
      |    CAST(SUM(x) AS DECIMAL(14,2)) AS sx,
      |    CAST(SUM(y) AS DECIMAL(19,2)) AS sy,
      |    CAST(SUM(CAST(x * y AS DECIMAL(14,4))) AS DECIMAL(24,4)) AS sxy,
      |    CAST(SUM(CAST(x * x AS DECIMAL(9,4))) AS DECIMAL(19,4)) AS sxx
      |  FROM base GROUP BY 1),
      |br AS (
      |  SELECT p_brand,
      |    CAST(n * sxy AS DECIMAL(38,4)) - CAST(sx * sy AS DECIMAL(38,4))
      |      AS num,
      |    CAST(n * sxx AS DECIMAL(38,4)) - CAST(sx * sx AS DECIMAL(38,4))
      |      AS den
      |  FROM bb),
      |pl AS (
      |  SELECT CAST(SUM(n) AS DECIMAL(12,0)) AS n,
      |    CAST(SUM(sx) AS DECIMAL(15,2)) AS sx,
      |    CAST(SUM(sy) AS DECIMAL(20,2)) AS sy,
      |    CAST(SUM(sxy) AS DECIMAL(25,4)) AS sxy,
      |    CAST(SUM(sxx) AS DECIMAL(20,4)) AS sxx
      |  FROM bb),
      |pp AS (
      |  SELECT
      |    CAST(n * sxy AS DECIMAL(38,4)) - CAST(sx * sy AS DECIMAL(38,4))
      |      AS pnum,
      |    CAST(n * sxx AS DECIMAL(38,4)) - CAST(sx * sx AS DECIMAL(38,4))
      |      AS pden
      |  FROM pl)
      |SELECT
      |  round(CAST(MAX(pnum) AS DOUBLE) / CAST(MAX(pden) AS DOUBLE), 6)
      |    + 0.0 AS pooled_slope,
      |  COUNT(*) AS n_brands,
      |  CAST(SUM(CASE WHEN (num > 0 AND pnum < 0)
      |      OR (num < 0 AND pnum > 0) THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_reversed,
      |  round(CAST(SUM(CASE WHEN (num > 0 AND pnum < 0)
      |      OR (num < 0 AND pnum > 0) THEN 1 ELSE 0 END)
      |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) + 0.0
      |    AS share_reversed
      |FROM br, pp WHERE den > 0""".stripMargin

  // --------------------------------------------------------------- q302
  /** Median/MAD robust outlier screen over daily order counts — the
    * robust-location member of the anomaly family (q105's z-scores use
    * mean/σ, which an outlier itself inflates; median and MAD have 50%
    * breakdown, so one crazy day cannot hide itself). Flags days with
    * |x − median| > 3·1.4826·MAD (1.4826 ≈ the MAD→σ consistency
    * constant for a normal core) and emits the one-row summary ledger:
    * median, MAD, threshold, outlier count, worst deviation.
    *
    * Exactness: counts are integers; median and MAD are LOWER medians
    * (the rank-⌈n/2⌉ order statistic — integer-valued, no midpoint
    * averaging, so every intermediate stays in BIGINT space); the
    * threshold is the single double chain 4.4478·MAD; the flag compares
    * an integer deviation cast double against it, identically in both
    * engines.
    *
    * Scale shape: one map-combinable date agg; the two median ranks run
    * over the |days| census (global windows — WindowGuardSpec pins
    * them); single-row output. */
  def q302MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Kpis.table(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("x"))
    def lowerMedian(df: DataFrame, c: String): DataFrame = {
      val n = df.count() // census-scale count, driver-side rank target
      df.withColumn("rn",
          row_number().over(Window.orderBy(col(c), col("d"))))
        .filter(col("rn") === lit((n + 1) / 2))
        .select(col(c).as("m"))
    }
    val med = lowerMedian(daily, "x")
    val dev = daily.crossJoin(broadcast(med))
      .withColumn("adev", abs(col("x") - col("m")))
    val mad = lowerMedian(dev.select(col("d"), col("adev")), "adev")
      .withColumnRenamed("m", "mad")
    val thr = col("mad").cast("double") * lit(4.4478)
    dev.crossJoin(broadcast(mad))
      .agg(count(lit(1)).as("n_days"),
        max(col("m")).as("median_daily"),
        max(col("mad")).as("mad"),
        max(thr).as("threshold"),
        sum(when(col("adev").cast("double") > thr, 1L).otherwise(0L))
          .as("n_outliers"),
        max(col("adev")).as("max_abs_dev"))
  }

  val q302Sql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS x
      |  FROM orders GROUP BY 1),
      |med AS (
      |  SELECT x AS m FROM (
      |    SELECT x, ROW_NUMBER() OVER (ORDER BY x, d) AS rn FROM daily)
      |  WHERE rn = (SELECT (COUNT(*) + 1) // 2 FROM daily)),
      |dev AS (
      |  SELECT d, x, m, ABS(x - m) AS adev FROM daily, med),
      |mad AS (
      |  SELECT adev AS mad FROM (
      |    SELECT adev, ROW_NUMBER() OVER (ORDER BY adev, d) AS rn
      |    FROM dev)
      |  WHERE rn = (SELECT (COUNT(*) + 1) // 2 FROM dev))
      |SELECT COUNT(*) AS n_days,
      |  CAST(MAX(m) AS BIGINT) AS median_daily,
      |  CAST(MAX(mad) AS BIGINT) AS mad,
      |  MAX(CAST(mad AS DOUBLE) * 4.4478) AS threshold,
      |  CAST(SUM(CASE WHEN CAST(adev AS DOUBLE) >
      |    CAST(mad AS DOUBLE) * 4.4478 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers,
      |  CAST(MAX(adev) AS BIGINT) AS max_abs_dev
      |FROM dev, mad""".stripMargin

  // --------------------------------------------------------------- q319
  /** Keyspace fragmentation audit of the order-key domain: contiguous
    * runs (islands), holes (gaps), and extremes — the surrogate-key
    * health check a warehouse runs after deletes/partial loads (how
    * fragmented is the ID space? is there one catastrophic hole or many
    * pinpricks?). The classic gaps-and-islands formulation needs a
    * GLOBAL row order (`k − row_number()` island ids, `lag(k)` gaps) —
    * at fact scale that is exactly what [[graft.operators.RangeRank]]
    * exists for: the island id comes from `withGlobalRank` and the
    * predecessor key from the EXCLUSIVE `withRunningMax` (keys sorted
    * ascending ⇒ running max of the strict prefix IS the previous key),
    * so no single-partition window ever runs.
    *
    * Exactness: ALL-integer — key arithmetic, counts, max gap/run.
    *
    * Scale shape: two range shuffles (rank + prefix-max) over the
    * distinct-key table, one fact-scale hash agg for island run
    * lengths, two 1-row summaries cross-joined. Every step distributed. */
  def q319KeyFragmentation(spark: SparkSession, dir: String): DataFrame = {
    val keys = Kpis.table(spark, dir, "orders")
      .select(col("o_orderkey").cast("long").as("k")).distinct()
    val ranked = graft.operators.RangeRank
      .withGlobalRank(keys, "rk", Seq(col("k")))
    val withPrev = graft.operators.RangeRank
      .withRunningMax(ranked, col("k"), "prev_k", Seq(col("k")),
        inclusive = false)
    val gaps = withPrev.withColumn("gap",
        when(col("prev_k").isNull, lit(0L))
          .otherwise(col("k") - col("prev_k") - 1L))
      .withColumn("isl", col("k") - col("rk"))
    val runs = gaps.groupBy(col("isl")).agg(count(lit(1)).as("run_len"))
    val s = gaps.agg(
      count(lit(1)).as("n_keys"),
      min(col("k")).as("min_key"), max(col("k")).as("max_key"),
      max(col("gap")).as("max_gap"),
      (lit(1L) + sum(when(col("gap") > 0L, 1L).otherwise(0L)))
        .as("n_islands"))
    val rr = runs.agg(max(col("run_len")).as("max_run"))
    s.crossJoin(broadcast(rr))
      .select(col("n_keys"), col("min_key"), col("max_key"),
        (col("max_key") - col("min_key") + 1L).as("span"),
        (col("max_key") - col("min_key") + 1L - col("n_keys"))
          .as("missing"),
        col("n_islands"), col("max_gap"), col("max_run"))
  }

  val q319Sql: String =
    """WITH k AS (SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS k
      |           FROM orders),
      |r AS (SELECT k, ROW_NUMBER() OVER (ORDER BY k) AS rk,
      |        LAG(k) OVER (ORDER BY k) AS prev_k FROM k),
      |g AS (SELECT k, rk,
      |        CASE WHEN prev_k IS NULL THEN 0 ELSE k - prev_k - 1 END
      |          AS gap,
      |        k - rk AS isl
      |      FROM r),
      |runs AS (SELECT isl, COUNT(*) AS run_len FROM g GROUP BY 1),
      |s AS (SELECT COUNT(*) AS n_keys, MIN(k) AS min_key,
      |        MAX(k) AS max_key, CAST(MAX(gap) AS BIGINT) AS max_gap,
      |        CAST(1 + SUM(CASE WHEN gap > 0 THEN 1 ELSE 0 END)
      |          AS BIGINT) AS n_islands
      |      FROM g),
      |rr AS (SELECT MAX(run_len) AS max_run FROM runs)
      |SELECT n_keys, min_key, max_key,
      |  max_key - min_key + 1 AS span,
      |  max_key - min_key + 1 - n_keys AS missing,
      |  n_islands, max_gap, max_run
      |FROM s, rr""".stripMargin

  // --------------------------------------------------------------- q323
  /** Winsorized mean of per-customer spend by nation: values below the
    * exact p05 order statistic are raised to it and values above the
    * exact p95 are lowered to it before averaging — the robust-location
    * companion of q178's TRIMMED mean (trimming deletes the tails and
    * shrinks n; winsorizing keeps n and caps influence, the estimator
    * used when every unit must stay in the book, e.g. revenue
    * accounting that cannot drop customers).
    *
    * Exactness: spend is the exact BIGINT cent rollup (zero-spend
    * customers included via left join — excluding them is the classic
    * silent bias); bound ranks are type-1 integer arithmetic
    * (⌈p·n⌉ = (n·k+99) div 100); the clamp and the winsorized sum stay
    * in exact cents; the two means are one double division each.
    *
    * Scale shape: per-nation rank windows are PARTITIONED by nation
    * (parallel at any scale, the q249 discipline); the 25-row bounds
    * table broadcasts back onto the entity frame. */
  def q323WinsorizedMean(spark: SparkSession, dir: String): DataFrame = {
    val spend = Kpis.table(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("s0"))
    val per = Kpis.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey").as("nation"))
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .select(col("nation"), col("c_custkey"),
        coalesce(col("s0"), lit(0L)).as("cents"))
    val w = Window.partitionBy(col("nation"))
      .orderBy(col("cents"), col("c_custkey"))
    val ranked = per
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n_obs",
        count(lit(1)).over(Window.partitionBy(col("nation"))))
    val bounds = ranked
      .groupBy(col("nation"))
      .agg(
        max(when(col("rk") === expr("(n_obs * 5 + 99) div 100"),
          col("cents"))).as("lo"),
        max(when(col("rk") === expr("(n_obs * 95 + 99) div 100"),
          col("cents"))).as("hi"))
    per.join(broadcast(bounds), "nation")
      .withColumn("wcents",
        greatest(col("lo"), least(col("hi"), col("cents"))))
      .groupBy(col("nation"))
      .agg(count(lit(1)).as("n_customers"),
        max(col("lo")).as("lo_cents"), max(col("hi")).as("hi_cents"),
        (sum(col("wcents")).cast("double") /
          count(lit(1)).cast("double")).as("winsor_mean_cents"),
        (sum(col("cents")).cast("double") /
          count(lit(1)).cast("double")).as("raw_mean_cents"))
      .orderBy("nation")
  }

  val q323Sql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS s0
      |  FROM orders GROUP BY 1),
      |per AS (
      |  SELECT c_nationkey AS nation, c_custkey,
      |    COALESCE(s0, 0) AS cents
      |  FROM customer LEFT JOIN spend ON c_custkey = o_custkey),
      |r AS (
      |  SELECT nation, cents,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY nation
      |      ORDER BY cents, c_custkey) AS BIGINT) AS rk,
      |    COUNT(*) OVER (PARTITION BY nation) AS n_obs
      |  FROM per),
      |bounds AS (
      |  SELECT nation,
      |    MAX(CASE WHEN rk = (n_obs * 5 + 99) // 100 THEN cents END)
      |      AS lo,
      |    MAX(CASE WHEN rk = (n_obs * 95 + 99) // 100 THEN cents END)
      |      AS hi
      |  FROM r GROUP BY 1)
      |SELECT nation, COUNT(*) AS n_customers,
      |  CAST(MAX(lo) AS BIGINT) AS lo_cents,
      |  CAST(MAX(hi) AS BIGINT) AS hi_cents,
      |  CAST(CAST(SUM(GREATEST(lo, LEAST(hi, cents))) AS BIGINT)
      |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS winsor_mean_cents,
      |  CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS raw_mean_cents
      |FROM per JOIN bounds USING (nation)
      |GROUP BY nation ORDER BY nation""".stripMargin

  // --------------------------------------------------------------- q423
  /** Aggregation overflow / precision headroom audit — the measured
    * justification for this library's exact-decimal-sum discipline:
    * for each 2-dp money column of lineitem, the exact cents-unit sum
    * (Σ round(100·v) in integer arithmetic), its 1000×-scale
    * projection, the binary magnitude of that projection, and two
    * verdicts at each of two horizons — 1000× (≈ SF 10) and the 100 TB
    * target (~10⁷× this fixture): does the projected cents sum still
    * fit IEEE-double's exact integer range (2⁵³), and does it fit
    * int64 at all. The measured verdict: discount/tax/quantity stay
    * double-exact even at 100 TB, but extendedprice leaves the
    * double-exact range there — a naive double SUM of revenue is
    * WRONG at the target scale — and its int64 cents headroom shrinks
    * to under 3× (one more growth step overflows). That is exactly why
    * every money aggregate here sums DECIMAL and casts once at the
    * end (README "exact decimal-sum → double" convention).
    *
    * Exactness: cents units are round(100·v) per row (one identical
    * IEEE multiply + HALF_UP round in both engines — the inputs are
    * 2-dp-valued by generation), summed as longs; magnitudes via the
    * binary spelling length (both engines' bin()); every column is an
    * integer or boolean.
    *
    * Scale shape: ONE map-combinable aggregate over lineitem carrying
    * all four columns' sums/maxima, then a 4-row stack. */
  def q423OverflowHeadroom(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val exprs = Seq(count(lit(1)).as("n")) ++
      cols.flatMap(c => Seq(
        sum(round(col(c) * 100.0, 0).cast("long")).as(s"s_$c"),
        max(round(col(c) * 100.0, 0).cast("long")).as(s"m_$c")))
    val a = li.agg(exprs.head, exprs.tail: _*)
    val p53 = 9007199254740992L // 2^53: the exact-integer edge of double
    a.select(col("n"), expr(s"stack(${cols.length}, " +
        cols.map(c => s"'$c', s_$c, m_$c").mkString(", ") +
        ") as (column_name, sum_cents, max_cents)"))
      .select(col("column_name"), col("n").as("n_rows"),
        col("sum_cents"), col("max_cents"),
        (col("sum_cents") * 1000L).as("sum_cents_1000x"),
        length(bin(col("sum_cents") * 1000L)).cast("long")
          .as("bits_1000x"),
        (col("sum_cents") * 1000L <= p53).as("exact_in_double_1000x"),
        (lit(63L) - length(bin(col("sum_cents") * 1000L)).cast("long"))
          .as("int64_headroom_bits"),
        // the 100 TB target is ~10^7× this fixture (sf0.01 → ~SF 1e5);
        // compare against pre-divided thresholds so nothing overflows:
        // x·10^7 ≤ 2^53  ⇔  x ≤ ⌊2^53/10^7⌋, likewise for 2^63−1
        (col("sum_cents") <= 900719925L).as("exact_in_double_100tb"),
        (col("sum_cents") <= 922337203685L).as("fits_int64_100tb"))
      .orderBy("column_name")
  }

  val q423Sql: String =
    """WITH a AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(CAST(round(l_quantity * 100.0, 0) AS BIGINT))
      |      AS BIGINT) AS s_q,
      |    CAST(MAX(CAST(round(l_quantity * 100.0, 0) AS BIGINT))
      |      AS BIGINT) AS m_q,
      |    CAST(SUM(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT))
      |      AS BIGINT) AS s_p,
      |    CAST(MAX(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT))
      |      AS BIGINT) AS m_p,
      |    CAST(SUM(CAST(round(l_discount * 100.0, 0) AS BIGINT))
      |      AS BIGINT) AS s_d,
      |    CAST(MAX(CAST(round(l_discount * 100.0, 0) AS BIGINT))
      |      AS BIGINT) AS m_d,
      |    CAST(SUM(CAST(round(l_tax * 100.0, 0) AS BIGINT)) AS BIGINT)
      |      AS s_t,
      |    CAST(MAX(CAST(round(l_tax * 100.0, 0) AS BIGINT)) AS BIGINT)
      |      AS m_t
      |  FROM lineitem),
      |s AS (
      |  SELECT n, column_name, sum_cents, max_cents FROM a,
      |  LATERAL (VALUES
      |    ('l_quantity', s_q, m_q), ('l_extendedprice', s_p, m_p),
      |    ('l_discount', s_d, m_d), ('l_tax', s_t, m_t))
      |    AS v(column_name, sum_cents, max_cents))
      |SELECT column_name, n AS n_rows, sum_cents, max_cents,
      |  sum_cents * 1000 AS sum_cents_1000x,
      |  CAST(length(bin(sum_cents * 1000)) AS BIGINT) AS bits_1000x,
      |  sum_cents * 1000 <= 9007199254740992 AS exact_in_double_1000x,
      |  63 - CAST(length(bin(sum_cents * 1000)) AS BIGINT)
      |    AS int64_headroom_bits,
      |  sum_cents <= 900719925 AS exact_in_double_100tb,
      |  sum_cents <= 922337203685 AS fits_int64_100tb
      |FROM s ORDER BY column_name""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q423_overflow_headroom", q423OverflowHeadroom _, q423Sql),
    Query("q323_winsorized_mean", q323WinsorizedMean _, q323Sql),
    Query("q319_key_fragmentation", q319KeyFragmentation _, q319Sql),
    Query("q302_mad_outliers", q302MadOutliers _, q302Sql),
    Query("q280_simpson_screen", q280SimpsonScreen _, q280Sql),
    Query("q274_price_dispersion", q274PriceDispersion _, q274Sql),
    Query("q271_negbin_fit", q271NegbinFit _, q271Sql),
    Query("q258_hill_tail_index", q258HillTailIndex _, q258Sql),
    Query("q249_newsvendor", q249Newsvendor _, q249Sql),
    Query("q231_fd_binning", q231FdBinning _, q231Sql),
    Query("q225_spearman", q225Spearman _, q225Sql),
    Query("q223_exact_percentiles", q223ExactPercentiles _, q223Sql),
    Query("q196_equidepth_hist", q196EquidepthHist _, q196Sql),
    Query("q199_discount_elasticity", q199DiscountElasticity _, q199Sql),
    Query("q144_theilsen_trend", q144TheilsenTrend _, q144Sql),
    Query("q149_weighted_median_qty", q149WeightedMedianQty _, q149Sql),
    Query("q69_trend_fit", q69TrendFit _, q69Sql),
    Query("q70_mad_outliers", q70MadOutliers _, q70Sql),
    Query("q84_equiwidth_hist", q84EquiwidthHist _, q84Sql),
    Query("q117_quantile_sketch_cert", q117QuantileSketchCert _, q117Sql),
    Query("q127_nation_order_stats", q127NationOrderStats _, q127Sql),
    Query("q178_trimmed_mean", q178TrimmedMean _, q178Sql))
}
