package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query

/** Time-series regularization over the events stream: resample a sparse
  * event series onto a dense per-key hourly grid (gap-fill) and carry the
  * last observation forward across the gaps — the standard prep step
  * before any windowed/sequential model consumes an irregular series.
  */
object SeriesQueries {

  // ---------------------------------------------------------------- q62
  /** Dense hourly grid per event_type for the sparse high-value
    * (value > 190) event series: each type's [first, last] active hour is
    * expanded with `sequence`, missing hours join as NULL and become
    * (n_events = 0, was_gap = true), and the hourly average carries
    * forward via last-non-null over an ordered window.
    *
    * Cross-engine parity: the hourly average uses the exact
    * decimal-sum→double convention (q7/q13), so forward-filled values are
    * bit-identical; hours hash as formatted strings (q13's convention).
    *
    * Scale shape: one hash agg on (type, hour); the span table is one row
    * per key (broadcast); the grid explode generates rows proportional to
    * the OUTPUT, not the input; fill is one window shuffle on the key.
    * Keys process independently — a year of hours per key is ~9k rows,
    * bounded regardless of input volume.
    */
  def q62GapFill(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Kpis.eventsTable(spark, dir)
      .filter(col("value") > 190)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("value").cast("decimal(18,4)")).cast("double") /
          count(lit(1))).as("avg_value"))
    val grid = hourly.groupBy(col("event_type"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour")))
          .as("h"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"),
        date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("avg_value"), ignoreNulls = true).over(w).as("filled_avg"),
        col("n_events").isNull.as("was_gap"))
      .orderBy("event_type", "hour")
  }

  val q62Sql: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_value
      |  FROM events WHERE value > 190 GROUP BY 1, 2),
      |grid AS (
      |  SELECT event_type,
      |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      |  FROM (SELECT event_type, min(h) AS h0, max(h) AS h1
      |        FROM hourly GROUP BY 1))
      |SELECT g.event_type,
      |  strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour,
      |  COALESCE(n, 0) AS n_events,
      |  last_value(avg_value IGNORE NULLS) OVER (
      |    PARTITION BY g.event_type ORDER BY g.h
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_avg,
      |  n IS NULL AS was_gap
      |FROM grid g LEFT JOIN hourly USING (event_type, h)
      |ORDER BY event_type, hour""".stripMargin

  // --------------------------------------------------------------- q124
  /** Gaps-and-islands: per-user activity streaks from the events stream.
    * A streak is a maximal run of CONSECUTIVE active days; the island id
    * is the classic `day_number - row_number()` constant — consecutive
    * days share it, any gap shifts it — computed per user. Output: each
    * user's longest streak, streak count, and total active days.
    *
    * Scale shape: the (user, day) dedup is one hash aggregate on the
    * fact table (partial+final — the heavy input collapses map-side);
    * everything after runs on ≤ |users|×|days| rows. The window
    * partitions BY USER, so unlike a global-series window it
    * parallelizes across the cluster; within a user a decade is ≤ ~3.7k
    * rows. All-integer output: hash-safe.
    */
  def q124ActivityStreaks(spark: SparkSession, dir: String): DataFrame = {
    val days = Kpis.eventsTable(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy("user_id", "day").agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("user_id").orderBy("day")
    val islands = days
      .withColumn("grp",
        datediff(col("day"), lit("1970-01-01").cast("date"))
          - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
    islands.groupBy("user_id")
      .agg(max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"),
        sum(col("len")).as("active_days"))
      .orderBy("user_id")
  }

  val q124Sql: String =
    """WITH days AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |islands AS (
      |  SELECT user_id,
      |    CAST(day - DATE '1970-01-01' AS BIGINT)
      |      - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
      |  FROM days),
      |runs AS (
      |  SELECT user_id, grp, COUNT(*) AS len FROM islands GROUP BY 1, 2)
      |SELECT user_id, MAX(len) AS longest_streak,
      |  COUNT(*) AS n_streaks, CAST(SUM(len) AS BIGINT) AS active_days
      |FROM runs GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q125
  /** Exponential smoothing (truncated EWMA) of daily revenue — the
    * forecasting companion to q4's flat rolling mean and q120's forecast
    * shape: weight w_j = 2^-j on the j-th most recent of the last 10
    * observations, renormalized over the lags that exist (so the first
    * rows are exact, not NULL).
    *
    * Determinism: EWMA is the textbook float-order trap (a recursive
    * s_t = αx + (1-α)s_{t-1} accumulates rounding differently per
    * engine). Here numerator and denominator are both scaled by 2^9 —
    * which cancels in the ratio — so every weight is an exact INTEGER
    * (512, 256, …, 1), all sums are exact decimal/integer arithmetic,
    * and BOTH engines perform ONE double division of identical operands
    * at the end — bit-identical by IEEE 754, pinned by the oracle hash.
    *
    * Scale shape: same argument as q4 — the single-partition window runs
    * over the DAILY aggregate (calendar-bounded, ~2.5k rows), after the
    * fact table collapsed in a partial+final hash aggregate. The 10
    * lags unroll into one window spec, one sort, one pass.
    */
  def q125EwmaRevenue(spark: SparkSession, dir: String): DataFrame = {
    val daily = Kpis.table(spark, dir, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("ship_day"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).as("rev"))
    val w = Window.orderBy("ship_day")
    // 2^9 × the dyadic weights ⇒ INTEGER weights 512, 256, …, 1. The 2^9
    // factor cancels in the ratio, and integer weights keep the numerator
    // at SCALE 4: products are DECIMAL(18,4)×DECIMAL(4,0) = (23,4), the
    // ten-term addition chain peaks at (32,4) — exact in both engines.
    // Two rejected development versions both split hashes: fractional
    // DECIMAL(10,9) weights at scale 13 either overflow DuckDB's
    // width-38 addition into DOUBLE (maxdiff 7e-7), or — after narrowing
    // — produce an unscaled int128 above 2^53 whose decimal→double cast
    // DuckDB computes 1–2 ulp off correct rounding (maxdiff 2e-10); Java's
    // BigDecimal.doubleValue is always correctly rounded, so exactness of
    // the final cast requires unscaled values below 2^53 (holds through
    // ~10^9/day revenue at scale 4).
    val num = (0 to 9).map { j =>
      coalesce(lag(col("rev"), j).over(w).cast("decimal(18,4)")
        * lit(512 >> j).cast("decimal(4,0)"),
        lit("0").cast("decimal(23,4)"))
    }.reduce(_ + _)
    val den = (0 to 9).map { j =>
      when(lag(col("rev"), j).over(w).isNotNull, lit((512 >> j).toLong))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    daily.select(col("ship_day"),
        col("rev").cast("double").as("revenue"),
        (num.cast("double") / den.cast("double")).as("ewma"))
      .orderBy("ship_day")
  }

  val q125Sql: String = {
    val num = (0 to 9).map { j =>
      s"COALESCE(CAST(LAG(rev, $j) OVER w AS DECIMAL(18,4)) " +
        s"* CAST(${512 >> j} AS DECIMAL(4,0)), CAST(0 AS DECIMAL(23,4)))"
    }.mkString(" + ")
    val den = (0 to 9).map { j =>
      s"CASE WHEN LAG(rev, $j) OVER w IS NOT NULL " +
        s"THEN CAST(${512 >> j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString(" + ")
    s"""WITH daily AS (
       |  SELECT CAST(l_shipdate AS DATE) AS ship_day,
       |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
       |  FROM lineitem GROUP BY 1)
       |SELECT ship_day, CAST(rev AS DOUBLE) AS revenue,
       |  CAST($num AS DOUBLE) / CAST($den AS DOUBLE) AS ewma
       |FROM daily
       |WINDOW w AS (ORDER BY ship_day)
       |ORDER BY ship_day""".stripMargin
  }

  // --------------------------------------------------------------- q130
  /** Autocorrelation function of daily revenue at lags 1–7 — the
    * seasonality detector behind q120's forecast (a weekly cycle shows up
    * as an ACF spike at lag 7). For each lag k, Pearson r between the
    * series and its k-shifted self over the n−k aligned pairs, computed
    * from EXACT decimal sums (Σx, Σy, Σxy, Σx², Σy²) with the q72
    * closed-form convention — no mean-centering pass, so no
    * float-summation jitter anywhere before the final double chain.
    *
    * Exactness: daily revenue re-narrowed to DECIMAL(18,4) (exact while
    * a day stays under ~10¹⁴ revenue units); products are (37,8) in
    * Spark, and the oracle widens to (19,4) so DuckDB multiplies in
    * int128 (the q72 width note). Sums cross to double via the
    * varchar-bridge on the DuckDB side.
    *
    * Scale shape: the only window runs over the DAILY aggregate (|days|
    * rows — thousands, after the one real shuffle collapses the fact
    * table), and all seven lags come from ONE window pass, stacked to
    * (lag, x, y) pairs and hash-aggregated to 7 rows. The q125
    * single-partition note applies: input is the day grain, never raw
    * lineitem. */
  def q130AutocorrRevenue(spark: SparkSession, dir: String): DataFrame = {
    val daily = Kpis.table(spark, dir, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("ship_day"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).cast("decimal(18,4)").as("rev"))
    val w = Window.orderBy("ship_day")
    val lagged = (1 to 7).foldLeft(daily) { (df, k) =>
      df.withColumn(s"lag$k", lag(col("rev"), k).over(w))
    }
    val stackExpr = (1 to 7)
      .map(k => s"CAST($k AS BIGINT), lag$k").mkString(", ")
    lagged
      .select(col("rev").as("x"),
        expr(s"stack(7, $stackExpr) AS (lag, y)"))
      .filter(col("y").isNotNull)
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        count(lit(1)).cast("double").as("n_d"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"))
      .select(col("lag"), col("n_pairs"),
        ((col("n_d") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n_d") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n_d") * col("syy") - col("sy") * col("sy"))))
          .as("acf"))
      .orderBy("lag")
  }

  val q130Sql: String = {
    val one =
      (k: Int) => s"""SELECT CAST($k AS BIGINT) AS lag, rev AS x,
                     |    LAG(rev, $k) OVER (ORDER BY ship_day) AS y
                     |  FROM daily""".stripMargin
    s"""WITH daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS ship_day,
      |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
      |                  AS DECIMAL(18,4))) AS DECIMAL(19,4)) AS rev
      |  FROM lineitem GROUP BY 1),
      |pairs AS (
      |  ${(1 to 7).map(one).mkString("\n  UNION ALL\n  ")}),
      |s AS (
      |  SELECT lag, COUNT(*) AS n_pairs, CAST(COUNT(*) AS DOUBLE) AS n_d,
      |    CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
      |    CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
      |    CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy,
      |    CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
      |    CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy
      |  FROM pairs WHERE y IS NOT NULL GROUP BY lag)
      |SELECT lag, n_pairs,
      |  (n_d * sxy - sx * sy) /
      |    (sqrt(n_d * sxx - sx * sx) * sqrt(n_d * syy - sy * sy)) AS acf
      |FROM s ORDER BY lag""".stripMargin
  }

  // --------------------------------------------------------------- q148
  /** Calendar-month seasonal indices of shipped revenue: for each month
    * 1–12, mean daily revenue across all years divided by the overall
    * mean daily revenue — the classical ratio-to-overall-average
    * seasonal decomposition (index > 1 = hot month). q130's
    * autocorrelation detects THAT revenue has periodic structure; this
    * names the months carrying it.
    *
    * Exactness: monthly and total sums are exact decimals with day
    * counts as integers; the three divisions (monthly mean, overall
    * mean, their ratio) are the identical double-op chain in both
    * engines.
    *
    * Scale shape: one map-combinable daily agg off the scan, a 12-row
    * monthly rollup, windows only over those 12 rows. */
  def q148SeasonalIndex(spark: SparkSession, dir: String): DataFrame = {
    val daily = Kpis.table(spark, dir, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).as("rev"))
    val monthly = daily
      .groupBy(month(col("day")).as("month"))
      .agg(sum(col("rev")).as("sm"), count(lit(1)).as("dm"))
    val w = Window.partitionBy()
    val meanDaily = col("sm").cast("double") / col("dm").cast("double")
    val overall = col("st").cast("double") / col("dt").cast("double")
    monthly
      .withColumn("st", sum(col("sm")).over(w))
      .withColumn("dt", sum(col("dm")).over(w))
      .select(col("month"), col("dm").as("n_days"),
        meanDaily.as("mean_daily"),
        (meanDaily / overall).as("seasonal_index"))
      .orderBy("month")
  }

  val q148Sql: String =
    """WITH daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS day,
      |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |      AS rev
      |  FROM lineitem GROUP BY 1),
      |monthly AS (
      |  SELECT CAST(EXTRACT(MONTH FROM day) AS INTEGER) AS month,
      |    SUM(rev) AS sm, COUNT(*) AS dm
      |  FROM daily GROUP BY 1),
      |tot AS (
      |  SELECT month, sm, dm, SUM(sm) OVER () AS st, SUM(dm) OVER () AS dt
      |  FROM monthly)
      |SELECT month, CAST(dm AS BIGINT) AS n_days,
      |  CAST(sm AS DOUBLE) / CAST(dm AS DOUBLE) AS mean_daily,
      |  (CAST(sm AS DOUBLE) / CAST(dm AS DOUBLE))
      |    / (CAST(st AS DOUBLE) / CAST(dt AS DOUBLE)) AS seasonal_index
      |FROM tot ORDER BY month""".stripMargin

  // --------------------------------------------------------------- q169
  /** CUSUM changepoint detection on daily shipped revenue: the day k
    * maximizing |Σ_{i≤k} rev_i − (k/n)·Σrev| — the classical
    * cumulative-sum level-shift detector (the retrospective twin of the
    * q105 rolling-z anomaly gate: q105 flags single outlier DAYS, CUSUM
    * finds the point where the MEAN LEVEL of the whole series shifts).
    * Reports the changepoint day, the normalized peak statistic, and the
    * exact mean revenue before/after the split.
    *
    * Exactness: the drift is kept RATIONAL — D_k = n·cum_k − k·S with
    * n, k as DECIMAL(8,0) and cum/S as exact decimal sums, so every D_k
    * is an exact decimal in BOTH engines (the widths are chosen so
    * neither engine saturates its 38-digit cap: (8,0)×(24,4) → (33,4)
    * Spark / (32,4) DuckDB, both lossless). The argmax then filters on
    * EXACT decimal equality with the window max (the q150 argmax
    * convention) with min(day) as tie-break; doubles appear only in the
    * final reported columns, through the varchar-bridge on the DuckDB
    * side.
    *
    * Scale shape: the fact table collapses to the daily census in one
    * map-combinable agg (the q130 discipline); every window — cumulative
    * sum, row_number, global max — runs over |days| rows (thousands),
    * never over lineitem. The global-window sites are census-scale by
    * construction (WindowGuardSpec's bound). */
  def q169CusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = Kpis.table(spark, dir, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("ship_day"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).cast("decimal(18,4)").as("rev"))
    val w = Window.orderBy(col("ship_day"))
    val cumW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    val cum = daily
      .withColumn("k", row_number().over(w).cast("decimal(8,0)"))
      .withColumn("cum", sum(col("rev")).over(cumW).cast("decimal(24,4)"))
      .withColumn("n", count(lit(1)).over(tot).cast("decimal(8,0)"))
      .withColumn("s", sum(col("rev")).over(tot).cast("decimal(24,4)"))
      .withColumn("d", abs(col("n") * col("cum") - col("k") * col("s")))
    cum
      .withColumn("dmax", max(col("d")).over(tot))
      .filter(col("d") === col("dmax"))
      .groupBy(col("n"), col("s"), col("dmax"))
      .agg(min(struct(col("ship_day"), col("k"), col("cum"))).as("at"))
      .select(
        col("at.ship_day").as("change_day"),
        col("at.k").cast("long").as("day_index"),
        col("n").cast("long").as("n_days"),
        (col("dmax").cast("double") /
          (col("n").cast("double") * col("n").cast("double")))
          .as("cusum_stat"),
        (col("at.cum").cast("double") / col("at.k").cast("double"))
          .as("mean_before"),
        ((col("s") - col("at.cum")).cast("double") /
          (col("n") - col("at.k")).cast("double")).as("mean_after"))
  }

  val q169Sql: String =
    """WITH daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS ship_day,
      |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
      |                  AS DECIMAL(18,4))) AS DECIMAL(19,4)) AS rev
      |  FROM lineitem GROUP BY 1),
      |c AS (
      |  SELECT ship_day,
      |    CAST(ROW_NUMBER() OVER (ORDER BY ship_day) AS DECIMAL(8,0)) AS k,
      |    CAST(SUM(rev) OVER (ORDER BY ship_day ROWS UNBOUNDED PRECEDING)
      |         AS DECIMAL(24,4)) AS cum,
      |    CAST(COUNT(*) OVER () AS DECIMAL(8,0)) AS n,
      |    CAST(SUM(rev) OVER () AS DECIMAL(24,4)) AS s
      |  FROM daily),
      |d AS (
      |  SELECT *, abs(n * cum - k * s) AS d FROM c),
      |m AS (
      |  SELECT *, MAX(d) OVER () AS dmax FROM d),
      |hit AS (
      |  SELECT n, s, dmax,
      |    MIN(struct_pack(ship_day := ship_day, k := k, cum := cum)) AS at
      |  FROM m WHERE d = dmax GROUP BY 1, 2, 3)
      |SELECT at.ship_day AS change_day,
      |  CAST(at.k AS BIGINT) AS day_index,
      |  CAST(n AS BIGINT) AS n_days,
      |  CAST(CAST(dmax AS VARCHAR) AS DOUBLE) /
      |    (CAST(CAST(n AS VARCHAR) AS DOUBLE) *
      |     CAST(CAST(n AS VARCHAR) AS DOUBLE)) AS cusum_stat,
      |  CAST(CAST(at.cum AS VARCHAR) AS DOUBLE) /
      |    CAST(CAST(at.k AS VARCHAR) AS DOUBLE) AS mean_before,
      |  CAST(CAST(s - at.cum AS VARCHAR) AS DOUBLE) /
      |    CAST(CAST(n - at.k AS VARCHAR) AS DOUBLE) AS mean_after
      |FROM hit""".stripMargin

  // --------------------------------------------------------------- q177
  /** AR(1) fit + one-step forecast of daily revenue: OLS of rev_t on
    * rev_{t−1} over the lag-aligned day pairs — slope (the
    * autoregression coefficient φ), intercept, and the forecast for the
    * day after the last observed day (c + φ·rev_last). q130 measures the
    * raw lag correlations; this turns lag 1 into an actual forecasting
    * model with a point prediction — the simplest member of the family
    * every metric-monitoring pipeline runs nightly.
    *
    * Exactness: the five OLS sums (Σx, Σy, Σxy, Σx², n) are exact
    * decimal/bigint aggregates of the lag-pair stream (products at
    * (37,8)/(38,8) exactly as q130); φ, c, and the forecast are ONE
    * double chain spelled identically on both sides, with decimal→double
    * through the varchar-bridge. The last observation is selected by
    * max(struct(day, rev)) — exact, no window needed.
    *
    * Scale shape: identical to q130 — one shuffle to the daily census,
    * a lag window over |days| rows, one global aggregate. */
  def q177Ar1Forecast(spark: SparkSession, dir: String): DataFrame = {
    val daily = Kpis.table(spark, dir, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("ship_day"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).cast("decimal(18,4)").as("rev"))
    val w = Window.orderBy("ship_day")
    val pairs = daily
      .withColumn("x", lag(col("rev"), 1).over(w))
      .filter(col("x").isNotNull)
      .select(col("ship_day"), col("x"), col("rev").as("y"))
    val agg = pairs.agg(
      count(lit(1)).as("n_pairs"),
      count(lit(1)).cast("double").as("n_d"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("x") * col("y")).cast("double").as("sxy"),
      sum(col("x") * col("x")).cast("double").as("sxx"),
      max(struct(col("ship_day"), col("y"))).as("last"))
    agg
      .withColumn("phi",
        (col("n_d") * col("sxy") - col("sx") * col("sy")) /
          (col("n_d") * col("sxx") - col("sx") * col("sx")))
      .withColumn("intercept",
        (col("sy") - col("phi") * col("sx")) / col("n_d"))
      .select(col("n_pairs"), col("phi"), col("intercept"),
        col("last.ship_day").as("last_day"),
        col("last.y").cast("double").as("last_rev"),
        (col("intercept") + col("phi") * col("last.y").cast("double"))
          .as("forecast_next"))
  }

  val q177Sql: String =
    """WITH daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS ship_day,
      |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
      |                  AS DECIMAL(18,4))) AS DECIMAL(19,4)) AS rev
      |  FROM lineitem GROUP BY 1),
      |p AS (
      |  SELECT ship_day, LAG(rev, 1) OVER (ORDER BY ship_day) AS x,
      |    rev AS y
      |  FROM daily),
      |s AS (
      |  SELECT COUNT(*) AS n_pairs, CAST(COUNT(*) AS DOUBLE) AS n_d,
      |    CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
      |    CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
      |    CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy,
      |    CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
      |    MAX(struct_pack(ship_day := ship_day, y := y)) AS last
      |  FROM p WHERE x IS NOT NULL),
      |f AS (
      |  SELECT *,
      |    (n_d * sxy - sx * sy) / (n_d * sxx - sx * sx) AS phi
      |  FROM s),
      |g AS (
      |  SELECT *, (sy - phi * sx) / n_d AS intercept FROM f)
      |SELECT n_pairs, phi, intercept,
      |  last.ship_day AS last_day,
      |  CAST(CAST(last.y AS VARCHAR) AS DOUBLE) AS last_rev,
      |  intercept + phi * CAST(CAST(last.y AS VARCHAR) AS DOUBLE)
      |    AS forecast_next
      |FROM g""".stripMargin

  // --------------------------------------------------------------- q197
  /** Lead–lag cross-correlation between the daily click series and the
    * daily purchase series at lags −5..+5: Pearson r between clicks on
    * day t and purchases on day t+k, from exact integer sums (the q130
    * closed form, pointed at TWO series instead of one series and its
    * shifted self). The argmax lag answers the marketing question
    * q130's autocorrelation cannot: how many days does purchase volume
    * trail click volume? A peak at k > 0 = conversion delay; at k = 0 =
    * same-session conversion dominates.
    *
    * Exactness: daily counts are exact BIGINTs; the 11 lag series come
    * from ONE window pass (lead on the joined daily frame); all five
    * OLS sums per lag are exact integer aggregates, and r is one double
    * chain (q130's spelling verbatim).
    *
    * Scale shape: the event stream collapses to |days| rows in one
    * map-combinable agg; the lag window and final 11-row aggregate run
    * over that census (WindowGuard bound). */
  def q197CrossCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val daily = Kpis.eventsTable(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("clicks"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchases"))
    val w = Window.orderBy(col("day"))
    val lagged = (-5 to 5).foldLeft(daily) { (df, k) =>
      df.withColumn(s"y_$k".replace("-", "m"),
        lead(col("purchases"), k).over(w))
    }
    val stackExpr = (-5 to 5)
      .map(k => s"CAST($k AS BIGINT), y_${k.toString.replace("-", "m")}")
      .mkString(", ")
    lagged
      .select(col("clicks").as("x"),
        expr(s"stack(11, $stackExpr) AS (lag, y)"))
      .filter(col("y").isNotNull)
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        count(lit(1)).cast("double").as("n_d"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"))
      .select(col("lag"), col("n_pairs"),
        ((col("n_d") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n_d") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n_d") * col("syy") - col("sy") * col("sy"))))
          .as("xcorr"))
      .orderBy("lag")
  }

  val q197Sql: String = {
    val one = (k: Int) =>
      s"""SELECT CAST($k AS BIGINT) AS lag, clicks AS x,
         |    LEAD(purchases, $k) OVER (ORDER BY day) AS y
         |  FROM daily""".stripMargin
    s"""WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |         AS BIGINT) AS clicks,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |         AS BIGINT) AS purchases
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |  GROUP BY 1),
      |pairs AS (
      |  ${(-5 to 5).map(one).mkString("\n  UNION ALL\n  ")}),
      |s AS (
      |  SELECT lag, COUNT(*) AS n_pairs, CAST(COUNT(*) AS DOUBLE) AS n_d,
      |    CAST(SUM(x) AS DOUBLE) AS sx,
      |    CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
      |    CAST(SUM(x * x) AS DOUBLE) AS sxx,
      |    CAST(SUM(y * y) AS DOUBLE) AS syy
      |  FROM pairs WHERE y IS NOT NULL GROUP BY lag)
      |SELECT lag, n_pairs,
      |  (n_d * sxy - sx * sy) /
      |    (sqrt(n_d * sxx - sx * sx) * sqrt(n_d * syy - sy * sy)) AS xcorr
      |FROM s ORDER BY lag""".stripMargin
  }

  // --------------------------------------------------------------- q261
  /** Gumbel extreme-value fit of monthly block maxima of daily order
    * revenue, by method of moments: β̂ = s·√6/π, μ̂ = m̄ − γ·β̂ (γ the
    * Euler–Mascheroni constant), and the 12-block return level
    * μ̂ − β̂·ln(−ln(1 − 1/12)) — "the daily revenue exceeded about once
    * a year". The tail question q105's anomaly z-scores can't answer:
    * z-scores assume the BULK distribution; capacity/risk planning
    * needs the distribution OF THE MAXIMA, which is what block-maxima
    * EVT estimates (Gumbel is the light-tailed domain of attraction —
    * sums/rollups of many bounded order totals land here).
    *
    * Exactness: daily revenue is the exact BIGINT cent sum; monthly
    * maxima are exact; n, Σm, Σm² are exact DECIMAL arithmetic (m is
    * widened to DECIMAL(18,0) so m² sums stay exact at any scale); the
    * moment chain (mean, sample variance, √, the two Gumbel constants,
    * the double-log return factor) is ONE double expression spelled
    * identically in both engines, and every emitted statistic is
    * 6-dp-rounded (−0.0-guarded) to absorb libm ulp in ln/√.
    *
    * Scale shape: two map-combinable aggs (day census → month maxima)
    * and a 1-row moment agg — no window, no join. */
  def q261GumbelMaxima(spark: SparkSession, dir: String): DataFrame = {
    val daily = Kpis.table(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
    val maxima = daily
      .groupBy((year(col("day")) * 100 + month(col("day"))).as("blk"))
      .agg(max(col("rev")).cast("decimal(18,0)").as("m"))
    val st = maxima.agg(
      count(lit(1)).as("n"),
      sum(col("m")).as("sm"),
      sum(col("m") * col("m")).as("smm"))
    val n = col("n").cast("double")
    val mean = col("sm").cast("double") / n
    val variance = (col("smm").cast("double") -
      col("sm").cast("double") * col("sm").cast("double") / n) /
      (n - lit(1.0))
    val beta = sqrt(variance) * sqrt(lit(6.0)) / lit(math.Pi)
    val mu = mean - lit(0.5772156649015329) * beta
    val rl = mu - beta * log(-log(lit(1.0) - lit(1.0) / lit(12.0)))
    st.select(
      col("n").as("n_blocks"),
      (round(mean / 100.0, 6) + lit(0.0)).as("mean_max"),
      (round(mu / 100.0, 6) + lit(0.0)).as("gumbel_mu"),
      (round(beta / 100.0, 6) + lit(0.0)).as("gumbel_beta"),
      (round(rl / 100.0, 6) + lit(0.0)).as("return_level_12"))
  }

  val q261Sql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev
      |  FROM orders GROUP BY 1),
      |maxima AS (
      |  SELECT year(day) * 100 + month(day) AS blk,
      |    CAST(MAX(rev) AS DECIMAL(18,0)) AS m
      |  FROM daily GROUP BY 1),
      |st AS (
      |  SELECT COUNT(*) AS n, SUM(m) AS sm, SUM(m * m) AS smm
      |  FROM maxima)
      |SELECT CAST(n AS BIGINT) AS n_blocks,
      |  round((CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0, 6) + 0.0
      |    AS mean_max,
      |  round((CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)
      |    - 0.5772156649015329 *
      |      (sqrt((CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE)
      |          * CAST(sm AS DOUBLE) / CAST(n AS DOUBLE))
      |        / (CAST(n AS DOUBLE) - 1.0)) * sqrt(6.0) / pi()))
      |    / 100.0, 6) + 0.0 AS gumbel_mu,
      |  round((sqrt((CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE)
      |        * CAST(sm AS DOUBLE) / CAST(n AS DOUBLE))
      |      / (CAST(n AS DOUBLE) - 1.0)) * sqrt(6.0) / pi())
      |    / 100.0, 6) + 0.0 AS gumbel_beta,
      |  round((CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)
      |    - 0.5772156649015329 *
      |      (sqrt((CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE)
      |          * CAST(sm AS DOUBLE) / CAST(n AS DOUBLE))
      |        / (CAST(n AS DOUBLE) - 1.0)) * sqrt(6.0) / pi())
      |    - (sqrt((CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE)
      |          * CAST(sm AS DOUBLE) / CAST(n AS DOUBLE))
      |        / (CAST(n AS DOUBLE) - 1.0)) * sqrt(6.0) / pi())
      |      * ln(-ln(1.0 - 1.0 / 12.0)))
      |    / 100.0, 6) + 0.0 AS return_level_12
      |FROM st""".stripMargin

  // --------------------------------------------------------------- q264
  /** Index of dispersion (variance-to-mean ratio) of DAILY order counts
    * per order priority, over the DENSIFIED day grid (every observed
    * order day × every priority, absent cells = 0). The Poissonness
    * check that picks the right control chart: D ≈ 1 says counts are
    * Poisson and q253's c-chart limits are valid; D ≫ 1 (overdispersion
    * — bursty arrivals) means c̄ ± 3√c̄ will false-alarm constantly and
    * the monitor needs negative-binomial limits; D ≪ 1 says arrivals
    * are scheduled, not random.
    *
    * Exactness: cell counts are exact; Σc and Σc² are exact DECIMAL
    * sums (c widened to DECIMAL(18,0) so squares stay exact at any
    * daily volume); mean, sample variance, and D are one double chain
    * spelled identically, 6-dp-rounded, −0.0-guarded.
    *
    * Scale shape: one map-combinable (priority, day) agg; the densify
    * is a broadcast cross of the two small censuses; per-priority
    * moments are a second census-scale agg. No window, no fact-scale
    * join. */
  def q264DispersionIndex(spark: SparkSession, dir: String): DataFrame = {
    val o = Kpis.table(spark, dir, "orders")
    val days = o.select(to_date(col("o_orderdate")).as("day")).distinct()
    val cnt = o.groupBy(col("o_orderpriority").as("pri"),
        to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("c0"))
    val pris = cnt.select(col("pri")).distinct()
    val dense = pris.crossJoin(days)
      .join(cnt, Seq("pri", "day"), "left")
      .select(col("pri"),
        coalesce(col("c0"), lit(0L)).cast("decimal(18,0)").as("c"))
    val st = dense.groupBy(col("pri"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"))
    val n = col("n_days").cast("double")
    val mean = col("s1").cast("double") / n
    val variance = (col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / n) /
      (n - lit(1.0))
    st.select(col("pri"), col("n_days"),
        col("s1").cast("long").as("n_orders"),
        (round(mean, 6) + lit(0.0)).as("mean_daily"),
        (round(variance / mean, 6) + lit(0.0)).as("dispersion_index"))
      .orderBy("pri")
  }

  val q264Sql: String =
    """WITH o AS (
      |  SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS day
      |  FROM orders),
      |days AS (SELECT DISTINCT day FROM o),
      |cnt AS (SELECT pri, day, COUNT(*) AS c0 FROM o GROUP BY 1, 2),
      |pris AS (SELECT DISTINCT pri FROM cnt),
      |dense AS (
      |  SELECT p.pri,
      |    CAST(COALESCE(c.c0, 0) AS DECIMAL(18,0)) AS c
      |  FROM pris p CROSS JOIN days d
      |  LEFT JOIN cnt c ON c.pri = p.pri AND c.day = d.day),
      |st AS (
      |  SELECT pri, COUNT(*) AS n_days, SUM(c) AS s1, SUM(c * c) AS s2
      |  FROM dense GROUP BY 1)
      |SELECT pri, n_days, CAST(s1 AS BIGINT) AS n_orders,
      |  round(CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE), 6) + 0.0
      |    AS mean_daily,
      |  round(((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) *
      |      CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE)) /
      |      (CAST(n_days AS DOUBLE) - 1.0)) /
      |    (CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE)), 6) + 0.0
      |    AS dispersion_index
      |FROM st ORDER BY pri""".stripMargin

  // --------------------------------------------------------------- q276
  /** Forecast backtest on monthly revenue: MAE of the naive (lag-1) and
    * seasonal-naive (lag-12) forecasters over the months where both are
    * defined, and their ratio — the MASE denominator logic (Hyndman):
    * any model worth deploying must beat these free baselines, and
    * WHICH baseline wins is itself the diagnosis (seasonal-naive
    * winning ⇒ the series is seasonal; q177's AR(1) should then be
    * swapped for a seasonal model). Registered as the evaluation
    * companion to q120/q177's forecasters.
    *
    * Exactness: monthly revenue is the exact BIGINT cent sum; both
    * absolute errors are exact integer differences; the two MAEs and
    * the ratio are closing double chains, 6-dp-rounded.
    *
    * Scale shape: one map-combinable month census; lags are ONE window
    * over the ≤|months| census (global by construction — the census IS
    * the entity table); one output row. */
  def q276MaseBacktest(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Kpis.table(spark, dir, "orders")
      .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .as("ym"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
    val w = Window.orderBy(col("ym"))
    val lagged = monthly
      .withColumn("l1", lag(col("rev"), 1).over(w))
      .withColumn("l12", lag(col("rev"), 12).over(w))
      .filter(col("l1").isNotNull && col("l12").isNotNull)
    lagged.agg(
        count(lit(1)).as("n_months"),
        sum(abs(col("rev") - col("l1"))).as("ae1"),
        sum(abs(col("rev") - col("l12"))).as("ae12"))
      .select(col("n_months"),
        (round(col("ae1").cast("double") /
          col("n_months").cast("double") / lit(100.0), 6) + lit(0.0))
          .as("mae_naive"),
        (round(col("ae12").cast("double") /
          col("n_months").cast("double") / lit(100.0), 6) + lit(0.0))
          .as("mae_seasonal_naive"),
        (round(col("ae12").cast("double") / col("ae1").cast("double"), 6)
          + lit(0.0)).as("seasonal_vs_naive"))
  }

  val q276Sql: String =
    """WITH monthly AS (
      |  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev
      |  FROM orders GROUP BY 1),
      |lagged AS (
      |  SELECT rev,
      |    LAG(rev, 1) OVER (ORDER BY ym) AS l1,
      |    LAG(rev, 12) OVER (ORDER BY ym) AS l12
      |  FROM monthly),
      |st AS (
      |  SELECT COUNT(*) AS n_months,
      |    CAST(SUM(abs(rev - l1)) AS BIGINT) AS ae1,
      |    CAST(SUM(abs(rev - l12)) AS BIGINT) AS ae12
      |  FROM lagged WHERE l1 IS NOT NULL AND l12 IS NOT NULL)
      |SELECT n_months,
      |  round(CAST(ae1 AS DOUBLE) / CAST(n_months AS DOUBLE) / 100.0, 6)
      |    + 0.0 AS mae_naive,
      |  round(CAST(ae12 AS DOUBLE) / CAST(n_months AS DOUBLE) / 100.0, 6)
      |    + 0.0 AS mae_seasonal_naive,
      |  round(CAST(ae12 AS DOUBLE) / CAST(ae1 AS DOUBLE), 6) + 0.0
      |    AS seasonal_vs_naive
      |FROM st""".stripMargin

  // --------------------------------------------------------------- q288
  /** Maximum drawdown of cumulative daily revenue: the deepest
    * peak-to-trough fall of the running revenue total, with the day it
    * bottomed, the peak it fell from, and the fractional depth. The
    * risk summary the trend family (q120/q125/q169) doesn't produce:
    * CUSUM flags WHEN the level shifted; max drawdown is the
    * worst-case "how far under water did the business go and when" —
    * the number a treasury/runway model consumes directly.
    *
    * Exactness: cumulative and running-max are exact BIGINT cent sums
    * over the day census (running windows, integer arithmetic); the
    * trough pick is the total order (drawdown DESC, day) — no floats
    * until the two emitted ratios, 6-dp-rounded.
    *
    * Scale shape: one map-combinable day census; both windows run over
    * the |days| census (the entity table — the q4/q74 class); one
    * ordered limit 1. */
  def q288MaxDrawdown(spark: SparkSession, dir: String): DataFrame = {
    val daily = Kpis.table(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dd = daily
      .withColumn("cum", sum(col("rev")).over(w))
      .withColumn("runmax", max(col("cum")).over(w))
      .withColumn("dd", col("runmax") - col("cum"))
    dd.orderBy(col("dd").desc, col("day"))
      .limit(1)
      .select(col("day").as("trough_day"),
        (col("runmax").cast("double") / lit(100.0)).as("peak_revenue"),
        (col("dd").cast("double") / lit(100.0)).as("max_drawdown"),
        (round(col("dd").cast("double") / col("runmax").cast("double"), 6)
          + lit(0.0)).as("drawdown_share"))
  }

  val q288Sql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev
      |  FROM orders GROUP BY 1),
      |c AS (
      |  SELECT day,
      |    SUM(rev) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM daily),
      |m AS (
      |  SELECT day, cum,
      |    MAX(cum) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
      |  FROM c)
      |SELECT day AS trough_day,
      |  CAST(runmax AS DOUBLE) / 100.0 AS peak_revenue,
      |  CAST(runmax - cum AS DOUBLE) / 100.0 AS max_drawdown,
      |  round(CAST(runmax - cum AS DOUBLE) / CAST(runmax AS DOUBLE), 6)
      |    + 0.0 AS drawdown_share
      |FROM m ORDER BY runmax - cum DESC, day LIMIT 1""".stripMargin

  // --------------------------------------------------------------- q293
  /** Individuals / moving-range (I-MR) control chart over daily order
    * counts — the SPC chart for UNGROUPED individual measurements,
    * completing the attribute-chart family (q241 p-chart for rates, q253
    * c-chart for counts-per-unit): center = mean daily count, short-term
    * noise σ̂ estimated from the mean absolute successive difference
    * MR̄/1.128 (limits written in the standard 2.66·MR̄ form), each day
    * flagged when it breaches center ± 2.66·MR̄. Chart scope is the
    * MR-bearing days (day 2 onward — the first day has no successive
    * difference), so center and MR̄ share one frame.
    *
    * Exactness: daily counts and moving ranges are integers; center and
    * MR̄ are each ONE integer division, the limits one multiply-add —
    * identical IEEE chains in both engines, so even the boolean
    * breach flags agree bit-exactly.
    *
    * Scale shape: one map-combinable date agg; the lag window runs over
    * the |distinct days| census (global window — WindowGuardSpec pins
    * it); limits broadcast as a 1-row frame. */
  def q293ImrChart(spark: SparkSession, dir: String): DataFrame = {
    val daily = Kpis.table(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("n_orders"))
    val w = Window.orderBy(col("d"))
    val mr = daily.withColumn("moving_range",
        abs(col("n_orders") - lag(col("n_orders"), 1).over(w)))
      .filter(col("moving_range").isNotNull)
    val limits = mr.agg(
      (sum(col("n_orders")).cast("double") / count(lit(1)).cast("double"))
        .as("center"),
      (sum(col("moving_range")).cast("double") /
        count(lit(1)).cast("double")).as("mr_bar"))
    val ucl = col("center") + lit(2.66) * col("mr_bar")
    val lcl = col("center") - lit(2.66) * col("mr_bar")
    mr.crossJoin(broadcast(limits))
      .select(col("d"), col("n_orders"), col("moving_range"),
        ucl.as("ucl"), lcl.as("lcl"),
        (col("n_orders").cast("double") > ucl ||
          col("n_orders").cast("double") < lcl).as("out_of_control"))
      .orderBy("d")
  }

  val q293Sql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders
      |  FROM orders GROUP BY 1),
      |mr AS (
      |  SELECT d, n_orders,
      |    ABS(n_orders - LAG(n_orders) OVER (ORDER BY d)) AS moving_range
      |  FROM daily),
      |m2 AS (SELECT * FROM mr WHERE moving_range IS NOT NULL),
      |lim AS (
      |  SELECT CAST(SUM(n_orders) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |      AS center,
      |    CAST(SUM(moving_range) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |      AS mr_bar
      |  FROM m2)
      |SELECT d, n_orders, CAST(moving_range AS BIGINT) AS moving_range,
      |  center + 2.66 * mr_bar AS ucl,
      |  center - 2.66 * mr_bar AS lcl,
      |  (CAST(n_orders AS DOUBLE) > center + 2.66 * mr_bar
      |   OR CAST(n_orders AS DOUBLE) < center - 2.66 * mr_bar)
      |    AS out_of_control
      |FROM m2, lim ORDER BY d""".stripMargin

  // --------------------------------------------------------------- q300
  /** STL-lite additive decomposition of daily revenue with Hyndman's
    * trend/seasonal STRENGTH measures — the diagnostic that says whether
    * a series is worth modeling with trend and/or weekly seasonality at
    * all (q148 gives seasonal INDICES, q212 a weekday ANOVA; neither
    * scores the decomposition). x = T + S + R with T the centered 7-day
    * moving mean, S the weekday mean of the detrended series, R the
    * remainder; then
    *   F_trend    = max(0, 1 − Var(R)/Var(x−S))
    *   F_seasonal = max(0, 1 − Var(R)/Var(x−T))
    * Emits the 7 weekday seasonal components with the two strengths and
    * variance ledger repeated.
    *
    * Exactness: daily revenue is exact integer CENTS; T and S are
    * snapped to the 4-dp grid by EXACT integer half-up division (r17:
    * round(double, 4) broke ties differently across engines — Spark
    * rounds the shortest-string form up, DuckDB's multiply-path lands
    * below — and cents·10⁴/c ties whenever c ∈ {4, 5}), so
    * detrended/remainder values are exact DECIMAL(16,4) arithmetic;
    * every variance comes from exact decimal Σv and Σv² ((17,4)² =
    * (35,8) products — inside both engines' 38-digit space) with the
    * closing E[v²]−E[v]² chain in identical double ops. Headroom bound
    * (r18, tightened per the r17 advisor): the hi·2⁵³+lo split below
    * uses Spark's `div`, whose quotient is a LONG, so the exactness
    * story covers |Σv²| < 2⁶³·2⁵³ ≈ 8.5e34 — i.e. daily cents to
    * ~600× the sf0.1 fixture (Σ(detr·10⁴)² grows quadratically), NOT
    * the full DECIMAL(38) space; past that the quotient would overflow
    * before the decimal does. Production series at that magnitude need
    * the split carried in DECIMAL, not LONG. Weekday is
    * epoch-day mod 7 (no cross-engine DOW convention).
    *
    * Scale shape: one map-combinable date agg to the daily census; the
    * trend window and day grid live on the |days| census (global window
    * — WindowGuardSpec pins it); the 7-row seasonal table broadcasts. */
  def q300DecompositionStrength(spark: SparkSession, dir: String): DataFrame = {
    val daily = Kpis.table(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    // r17 inherited-state fix: the 4-dp snaps of t and seasonal are
    // EXACT integer half-up instead of round(double, 4) — cents·10⁴/c7
    // ties at 4 dp whenever c7 ∈ {4, 5} (the series edges), and the two
    // engines break double ties differently (Spark rounds the shortest-
    // string form up, DuckDB's multiply-path lands below), which
    // cascaded one sf0.001 tie through seasonal into every variance.
    // detr is then an exact decimal subtraction — no double round left
    // anywhere before the closing variance chain.
    val w7 = Window.orderBy(col("d")).rowsBetween(-3, 3)
    val detr = daily
      .withColumn("s7", sum(col("cents")).over(w7))
      .withColumn("c7", count(lit(1)).over(w7))
      .withColumn("t", expr(
        "CAST(CAST((2 * s7 * 10000 + c7) div (2 * c7) AS DECIMAL(16,0))" +
          " / 10000 AS DECIMAL(16,4))"))
      .withColumn("detr",
        (col("cents").cast("decimal(16,4)") - col("t"))
          .cast("decimal(16,4)"))
      .withColumn("wd",
        pmod(datediff(col("d"), lit(java.sql.Date.valueOf("1970-01-01"))),
          lit(7)).cast("long"))
    val seas = detr.groupBy(col("wd"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("detr")).as("sd"))
      .select(col("wd"), expr(
        """CAST(CAST(CASE
          |  WHEN sd >= 0 THEN
          |    (2 * CAST(sd * 10000 AS BIGINT) + cnt) div (2 * cnt)
          |  ELSE
          |    -((2 * CAST(-sd * 10000 AS BIGINT) + cnt) div (2 * cnt))
          |END AS DECIMAL(16,0)) / 10000 AS DECIMAL(16,4))""".stripMargin)
        .as("seasonal"))
    val parts = detr.join(broadcast(seas), "wd")
      .withColumn("resid", col("detr") - col("seasonal"))
      .withColumn("xs",
        col("cents").cast("decimal(16,4)") - col("seasonal"))
    // r17 inherited-state fix, part 2: the Σv and Σv² sums are carried
    // as exact INTEGER decimals (units 10⁻⁴ / 10⁻⁸) and converted to
    // double through an explicit hi·2⁵³ + lo split — casting a decimal
    // whose unscaled value exceeds 2⁵³ to double is correctly rounded
    // in Spark (BigDecimal) but 1 ulp off in DuckDB (two-step
    // int128→double→scale divide), which is exactly the bit-level
    // variance divergence the sf0.001 gate caught. hi·2⁵³ is an exact
    // double product; the add and the final scale divisions are single
    // identically-spelled IEEE ops on both engines.
    def sumU(c: String): org.apache.spark.sql.Column =
      sum(expr(s"CAST($c * 10000 AS DECIMAL(19,0))"))
    def sumUU(c: String): org.apache.spark.sql.Column =
      sum(expr(s"CAST($c * 10000 AS DECIMAL(19,0))" +
        s" * CAST($c * 10000 AS DECIMAL(19,0))"))
    def dblOf(u: String, scaleDiv: String): String =
      s"""(CASE WHEN $u >= 0 THEN 1.0E0 ELSE -1.0E0 END *
         |  ((CAST(abs($u) div 9007199254740992 AS DOUBLE)
         |      * 9007199254740992.0E0
         |    + CAST(abs($u) % 9007199254740992 AS DOUBLE))
         |   / $scaleDiv))""".stripMargin
    def varExpr(pfx: String): String =
      s"""(${dblOf(s"uu_$pfx", "1.0E8")} / CAST(n_days AS DOUBLE)
         |  - (${dblOf(s"su_$pfx", "1.0E4")} / CAST(n_days AS DOUBLE))
         |    * (${dblOf(s"su_$pfx", "1.0E4")} / CAST(n_days AS DOUBLE)))"""
        .stripMargin
    val agg = parts.agg(
      count(lit(1)).as("n_days"),
      sumU("resid").as("su_r"), sumUU("resid").as("uu_r"),
      sumU("detr").as("su_d"), sumUU("detr").as("uu_d"),
      sumU("xs").as("su_x"), sumUU("xs").as("uu_x"))
      .select(col("n_days"),
        expr(varExpr("r")).as("var_resid"),
        expr(varExpr("d")).as("var_deseason_target"),
        expr(varExpr("x")).as("var_detrend_target"))
    seas.crossJoin(broadcast(agg))
      .select(col("wd"), col("seasonal").cast("double").as("seasonal"),
        col("n_days"), col("var_resid"),
        col("var_deseason_target"), col("var_detrend_target"),
        greatest(lit(0.0), lit(1.0) -
          col("var_resid") / col("var_detrend_target")).as("f_trend"),
        greatest(lit(0.0), lit(1.0) -
          col("var_resid") / col("var_deseason_target")).as("f_seasonal"))
      .orderBy("wd")
  }

  /** DuckDB spelling of the hi·2⁵³ + lo decimal→double conversion used
    * by q300's variance sums (see the inline note in
    * [[q300DecompositionStrength]]); hugeint floor-div/mod are exact
    * integer ops, the FP recombination is op-for-op the Spark chain. */
  private def q300Dbl(u: String, scaleDiv: String): String =
    s"""(CASE WHEN $u >= 0 THEN 1.0E0 ELSE -1.0E0 END *
       |      ((CAST(CAST(abs($u) AS HUGEINT) // 9007199254740992
       |          AS DOUBLE) * 9007199254740992.0E0
       |        + CAST(CAST(abs($u) AS HUGEINT) % 9007199254740992
       |          AS DOUBLE))
       |       / $scaleDiv))""".stripMargin

  val q300Sql: String = expandQ300Dbl(
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |tr AS (
      |  SELECT d, cents,
      |    CAST(CAST((2 * SUM(cents) OVER w * 10000 + COUNT(*) OVER w)
      |        // (2 * COUNT(*) OVER w) AS DECIMAL(16,0)) / 10000
      |      AS DECIMAL(16,4)) AS t,
      |    (d - DATE '1970-01-01') % 7 AS wd
      |  FROM daily
      |  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |dt AS (
      |  SELECT d, cents, wd,
      |    CAST(CAST(cents AS DECIMAL(16,4)) - t AS DECIMAL(16,4)) AS detr
      |  FROM tr),
      |seas AS (
      |  SELECT wd,
      |    CAST(CAST(CASE
      |      WHEN SUM(detr) >= 0 THEN
      |        (2 * CAST(SUM(detr) * 10000 AS BIGINT) + COUNT(*))
      |          // (2 * COUNT(*))
      |      ELSE
      |        -((2 * CAST(-SUM(detr) * 10000 AS BIGINT) + COUNT(*))
      |          // (2 * COUNT(*)))
      |    END AS DECIMAL(16,0)) / 10000 AS DECIMAL(16,4)) AS seasonal
      |  FROM dt GROUP BY 1),
      |parts AS (
      |  SELECT dt.*, seas.seasonal,
      |    dt.detr - seas.seasonal AS resid,
      |    CAST(dt.cents AS DECIMAL(16,4)) - seas.seasonal AS xs
      |  FROM dt JOIN seas USING (wd)),
      |sums AS (
      |  SELECT COUNT(*) AS n_days,
      |    SUM(CAST(resid * 10000 AS DECIMAL(19,0))) AS su_r,
      |    SUM(CAST(resid * 10000 AS DECIMAL(19,0))
      |      * CAST(resid * 10000 AS DECIMAL(19,0))) AS uu_r,
      |    SUM(CAST(detr * 10000 AS DECIMAL(19,0))) AS su_d,
      |    SUM(CAST(detr * 10000 AS DECIMAL(19,0))
      |      * CAST(detr * 10000 AS DECIMAL(19,0))) AS uu_d,
      |    SUM(CAST(xs * 10000 AS DECIMAL(19,0))) AS su_x,
      |    SUM(CAST(xs * 10000 AS DECIMAL(19,0))
      |      * CAST(xs * 10000 AS DECIMAL(19,0))) AS uu_x
      |  FROM parts),
      |agg AS (
      |  SELECT n_days,
      |    (DBL(uu_r, 1.0E8) / CAST(n_days AS DOUBLE)
      |      - (DBL(su_r, 1.0E4) / CAST(n_days AS DOUBLE))
      |        * (DBL(su_r, 1.0E4) / CAST(n_days AS DOUBLE))) AS var_resid,
      |    (DBL(uu_d, 1.0E8) / CAST(n_days AS DOUBLE)
      |      - (DBL(su_d, 1.0E4) / CAST(n_days AS DOUBLE))
      |        * (DBL(su_d, 1.0E4) / CAST(n_days AS DOUBLE)))
      |      AS var_deseason_target,
      |    (DBL(uu_x, 1.0E8) / CAST(n_days AS DOUBLE)
      |      - (DBL(su_x, 1.0E4) / CAST(n_days AS DOUBLE))
      |        * (DBL(su_x, 1.0E4) / CAST(n_days AS DOUBLE)))
      |      AS var_detrend_target
      |  FROM sums)
      |SELECT CAST(wd AS BIGINT) AS wd,
      |  CAST(seasonal AS DOUBLE) AS seasonal, n_days, var_resid,
      |  var_deseason_target, var_detrend_target,
      |  GREATEST(0.0, 1.0 - var_resid / var_detrend_target) AS f_trend,
      |  GREATEST(0.0, 1.0 - var_resid / var_deseason_target) AS f_seasonal
      |FROM seas, agg ORDER BY wd""".stripMargin)

  /** Expands the `DBL(col, scale)` placeholders in q300's oracle text
    * into [[q300Dbl]] spellings (kept as placeholders so the agg CTE
    * stays readable). */
  private def expandQ300Dbl(raw: String): String =
    "DBL\\((\\w+), ([0-9.E]+)\\)".r.replaceAllIn(raw,
      m => scala.util.matching.Regex.quoteReplacement(
        q300Dbl(m.group(1), m.group(2))))

  // --------------------------------------------------------------- q301
  /** Peak trailing-30-day revenue window per nation — the only query
    * family member exercising a RANGE-mode window frame (every other
    * window in the registry is ROWS-mode): the trailing sum must cover
    * the last 30 CALENDAR days, not the last 30 observed rows, so days
    * missing from a nation's history shrink the window's row count but
    * not its time span. Emits, per nation, the day whose trailing-30-day
    * revenue peaked, the peak amount, and how many active days the
    * winning window actually contained.
    *
    * Exactness: all-integer cents; peak ties break by earliest day.
    *
    * Scale shape: dims broadcast into one date×nation map-combinable
    * agg; both windows are PARTITIONED by nation over the daily census
    * (never global, never fact-scale). Spark orders the range frame on
    * the integer epoch-day (RangeFrame requires a numeric key); the
    * oracle's `RANGE INTERVAL 29 DAY PRECEDING` over the date is the
    * same day-span semantics. */
  def q301PeakTrailingWindow(spark: SparkSession, dir: String): DataFrame = {
    val nat = Kpis.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(Kpis.table(spark, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    val daily = Kpis.table(spark, dir, "orders")
      .join(nat, col("o_custkey") === col("c_custkey"))
      .groupBy(col("n_name"), to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .withColumn("ed",
        datediff(col("d"), lit(java.sql.Date.valueOf("1970-01-01"))))
    val w = Window.partitionBy(col("n_name")).orderBy(col("ed"))
      .rangeBetween(-29, 0)
    val tr = daily
      .withColumn("trailing_cents", sum(col("cents")).over(w))
      .withColumn("days_in_window", count(lit(1)).over(w))
    tr.withColumn("rn", row_number().over(Window.partitionBy(col("n_name"))
        .orderBy(col("trailing_cents").desc, col("d"))))
      .filter(col("rn") === 1)
      .select(col("n_name").as("nation"), col("d").as("peak_day"),
        col("trailing_cents").as("peak_window_cents"),
        col("days_in_window"))
      .orderBy("nation")
  }

  val q301Sql: String =
    """WITH daily AS (
      |  SELECT n_name, CAST(o_orderdate AS DATE) AS d,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2),
      |tr AS (
      |  SELECT n_name, d, cents,
      |    CAST(SUM(cents) OVER w AS BIGINT) AS trailing_cents,
      |    COUNT(*) OVER w AS days_in_window
      |  FROM daily
      |  WINDOW w AS (PARTITION BY n_name ORDER BY d
      |    RANGE BETWEEN INTERVAL 29 DAY PRECEDING AND CURRENT ROW)),
      |pk AS (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY n_name ORDER BY trailing_cents DESC, d) AS rn
      |  FROM tr)
      |SELECT n_name AS nation, d AS peak_day,
      |  trailing_cents AS peak_window_cents, days_in_window
      |FROM pk WHERE rn = 1 ORDER BY nation""".stripMargin

  // --------------------------------------------------------------- q303
  /** Order-3 permutation entropy of daily revenue — the ordinal-pattern
    * complexity measure (Bandt–Pompe): every day's (xₜ, xₜ₊₁, xₜ₊₂)
    * triple maps to one of 6 ordinal patterns (which of the 3! orderings
    * the values realize, ties resolved by position — the standard stable
    * convention), and the entropy of the pattern distribution says
    * whether the series' TEMPORAL structure is trendy (few patterns
    * dominate) or noise-like (all 6 equally likely). The existing
    * entropy queries (q142 chars, q287 behavior) measure distributional
    * diversity; this one measures dynamics — a series can have high
    * value-entropy and near-zero permutation entropy (a staircase).
    *
    * Exactness: patterns come from integer comparisons on exact cents;
    * the entropy is the ln9-grid weighted sum (the q137/q287
    * convention), normalized by the 9-dp literal ln 3! = 1.791759469;
    * the dominant-pattern share is one integer division.
    *
    * Scale shape: one date agg; lead() and the pattern census live on
    * the |days| census (global window — WindowGuardSpec pins it);
    * ≤6-row output. */
  def q303PermutationEntropy(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactMath.ln9
    val daily = Kpis.table(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
    val w = Window.orderBy(col("d"))
    val triples = daily
      .withColumn("x2", lead(col("x"), 1).over(w))
      .withColumn("x3", lead(col("x"), 2).over(w))
      .filter(col("x3").isNotNull)
    // stable ordinal pattern: position i precedes j>i iff x_i <= x_j
    val a = col("x") <= col("x2")   // 1 before 2
    val b = col("x2") <= col("x3")  // 2 before 3
    val c = col("x") <= col("x3")   // 1 before 3
    val pattern = when(a && b, "123")
      .when(a && !b && c, "132")
      .when(!a && b && c, "213")
      .when(a && !b && !c, "312")
      .when(!a && b && !c, "231")
      .otherwise("321") // !a && !b (⇒ !c)
    val census = triples.groupBy(pattern.as("pattern"))
      .agg(count(lit(1)).as("n_triples"))
    val tot = census.agg(sum(col("n_triples")).as("n"),
      max(col("n_triples")).as("top"))
    val h = census.crossJoin(broadcast(tot))
      .select((ln9(col("n").cast("double") / col("n_triples").cast("double"))
        * col("n_triples")).as("hw"), col("n"), col("top"))
      .groupBy(col("n"), col("top"))
      .agg((round(sum(col("hw")).cast("double") / col("n").cast("double"), 6)
        + lit(0.0)).as("pe_nats"))
      .select(col("n"), col("top"), col("pe_nats"),
        (col("pe_nats") / lit(1.791759469)).as("pe_normalized"),
        (col("top").cast("double") / col("n").cast("double"))
          .as("dominant_share"))
    census.crossJoin(broadcast(h))
      .select(col("pattern"), col("n_triples"), col("n").as("n_windows"),
        col("pe_nats"), col("pe_normalized"), col("dominant_share"))
      .orderBy("pattern")
  }

  val q303Sql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS x
      |  FROM orders GROUP BY 1),
      |tr AS (
      |  SELECT x, LEAD(x, 1) OVER (ORDER BY d) AS x2,
      |    LEAD(x, 2) OVER (ORDER BY d) AS x3
      |  FROM daily),
      |pat AS (
      |  SELECT CASE
      |    WHEN x <= x2 AND x2 <= x3 THEN '123'
      |    WHEN x <= x2 AND NOT x2 <= x3 AND x <= x3 THEN '132'
      |    WHEN NOT x <= x2 AND x2 <= x3 AND x <= x3 THEN '213'
      |    WHEN x <= x2 AND NOT x2 <= x3 AND NOT x <= x3 THEN '312'
      |    WHEN NOT x <= x2 AND x2 <= x3 AND NOT x <= x3 THEN '231'
      |    ELSE '321' END AS pattern
      |  FROM tr WHERE x3 IS NOT NULL),
      |census AS (
      |  SELECT pattern, COUNT(*) AS n_triples FROM pat GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(n_triples) AS BIGINT) AS n,
      |    CAST(MAX(n_triples) AS BIGINT) AS top
      |  FROM census),
      |h AS (
      |  SELECT n, top,
      |    round(CAST(SUM(CAST(round(ln(CAST(n AS DOUBLE)
      |        / CAST(n_triples AS DOUBLE)), 9) AS DECIMAL(12,9))
      |      * n_triples) AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0
      |      AS pe_nats
      |  FROM census, tot GROUP BY 1, 2)
      |SELECT pattern, n_triples, n AS n_windows, pe_nats,
      |  pe_nats / 1.791759469 AS pe_normalized,
      |  CAST(top AS DOUBLE) / CAST(n AS DOUBLE) AS dominant_share
      |FROM census, h ORDER BY pattern""".stripMargin

  // --------------------------------------------------------------- q317
  /** Hierarchical forecast reconciliation audit: forecast the final
    * month's revenue with a 3-month MEDIAN (deliberately nonlinear — a
    * linear forecaster commutes with aggregation and the question
    * vanishes) two ways — TOP-DOWN (median of the total series) and
    * BOTTOM-UP (sum of per-nation medians) — and measure the coherence
    * gap between them plus both one-step backtest errors against the
    * actual. This is the core dilemma of hierarchical forecasting
    * (Hyndman's reconciliation literature): per-series forecasts don't
    * add up, and a platform must pick (or reconcile) a level. The gap
    * and the per-level errors are the evidence that choice reads.
    *
    * Exactness: ALL-integer — cents sums, a median-of-3 spelled as the
    * branchless greatest/least form (identical in both engines), and
    * integer gaps/errors; no division anywhere.
    *
    * Scale shape: one (nation, month) agg; the 3-month windows read a
    * nation×3 grid built by explicit filter (no window function at
    * all); single-row output. */
  def q317HierForecast(spark: SparkSession, dir: String): DataFrame = {
    def med3(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
             c: org.apache.spark.sql.Column) =
      greatest(least(a, b), least(greatest(a, b), c))
    val nat = Kpis.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val monthly = Kpis.table(spark, dir, "orders")
      .join(nat, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("idx"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val lastIdx = monthly.agg(max(col("idx")).as("li"))
    val hist = monthly.crossJoin(broadcast(lastIdx))
      .filter(col("idx") >= col("li") - 4 && col("idx") <= col("li") - 2)
    val perNation = monthly.select(col("nation")).distinct()
      .crossJoin(broadcast(lastIdx))
      .join(hist.select(col("nation").as("n2"), col("idx"), col("cents")),
        col("nation") === col("n2") && col("idx") === col("li") - 4, "left")
      .withColumnRenamed("cents", "m3")
      .drop("n2", "idx")
      .join(hist.select(col("nation").as("n2"), col("idx"), col("cents")),
        col("nation") === col("n2") && col("idx") === col("li") - 3, "left")
      .withColumnRenamed("cents", "m2")
      .drop("n2", "idx")
      .join(hist.select(col("nation").as("n2"), col("idx"), col("cents")),
        col("nation") === col("n2") && col("idx") === col("li") - 2, "left")
      .withColumnRenamed("cents", "m1")
      .drop("n2", "idx")
      .select(col("nation"),
        med3(coalesce(col("m3"), lit(0L)), coalesce(col("m2"), lit(0L)),
          coalesce(col("m1"), lit(0L))).as("f_nation"))
    val bu = perNation.agg(sum(col("f_nation")).as("f_bottom_up"),
      count(lit(1)).as("n_nations"))
    val totals = monthly.groupBy(col("idx"))
      .agg(sum(col("cents")).as("t"))
      .crossJoin(broadcast(lastIdx))
    val td = totals.agg(
      max(when(col("idx") === col("li") - 4, col("t"))).as("t3"),
      max(when(col("idx") === col("li") - 3, col("t"))).as("t2"),
      max(when(col("idx") === col("li") - 2, col("t"))).as("t1"),
      max(when(col("idx") === col("li") - 1, col("t"))).as("actual"),
      (max(col("li")) - lit(1L)).as("target_idx"))
      .select(col("target_idx"), col("actual"),
        med3(coalesce(col("t3"), lit(0L)), coalesce(col("t2"), lit(0L)),
          coalesce(col("t1"), lit(0L))).as("f_top_down"))
    td.crossJoin(broadcast(bu))
      .select(col("target_idx"), col("n_nations"), col("actual"),
        col("f_top_down"), col("f_bottom_up"),
        (col("f_top_down") - col("f_bottom_up")).as("coherence_gap"),
        abs(col("f_top_down") - col("actual")).as("abs_err_top_down"),
        abs(col("f_bottom_up") - col("actual")).as("abs_err_bottom_up"))
  }

  val q317Sql: String =
    """WITH monthly AS (
      |  SELECT c_nationkey AS nation,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
      |      AS idx,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |li AS (SELECT MAX(idx) AS li FROM monthly),
      |pn AS (
      |  SELECT n.nation,
      |    GREATEST(LEAST(COALESCE(a.cents, 0), COALESCE(b.cents, 0)),
      |      LEAST(GREATEST(COALESCE(a.cents, 0), COALESCE(b.cents, 0)),
      |        COALESCE(c.cents, 0))) AS f_nation
      |  FROM (SELECT DISTINCT nation FROM monthly) n
      |  CROSS JOIN li
      |  LEFT JOIN monthly a ON a.nation = n.nation AND a.idx = li.li - 4
      |  LEFT JOIN monthly b ON b.nation = n.nation AND b.idx = li.li - 3
      |  LEFT JOIN monthly c ON c.nation = n.nation AND c.idx = li.li - 2),
      |bu AS (
      |  SELECT CAST(SUM(f_nation) AS BIGINT) AS f_bottom_up,
      |    COUNT(*) AS n_nations
      |  FROM pn),
      |tot AS (
      |  SELECT idx, CAST(SUM(cents) AS BIGINT) AS t
      |  FROM monthly GROUP BY 1),
      |td AS (
      |  SELECT li.li - 1 AS target_idx,
      |    (SELECT t FROM tot WHERE idx = li.li - 1) AS actual,
      |    GREATEST(
      |      LEAST(COALESCE((SELECT t FROM tot WHERE idx = li.li - 4), 0),
      |            COALESCE((SELECT t FROM tot WHERE idx = li.li - 3), 0)),
      |      LEAST(
      |        GREATEST(
      |          COALESCE((SELECT t FROM tot WHERE idx = li.li - 4), 0),
      |          COALESCE((SELECT t FROM tot WHERE idx = li.li - 3), 0)),
      |        COALESCE((SELECT t FROM tot WHERE idx = li.li - 2), 0)))
      |      AS f_top_down
      |  FROM li)
      |SELECT target_idx, n_nations, actual, f_top_down, f_bottom_up,
      |  f_top_down - f_bottom_up AS coherence_gap,
      |  abs(f_top_down - actual) AS abs_err_top_down,
      |  abs(f_bottom_up - actual) AS abs_err_bottom_up
      |FROM td, bu""".stripMargin

  // --------------------------------------------------------------- q354
  /** Pairwise dynamic-time-warping distance matrix between the 25
    * per-nation monthly-revenue series — the alignment-aware series
    * similarity the point-wise family here lacks: cross-correlation
    * (q197) only shifts whole series by a fixed lag, and Euclidean
    * month-by-month comparison penalizes a one-month phase slip along
    * the whole series; DTW's monotone warping path absorbs local
    * tempo differences (a nation whose seasonal peak lands a month
    * late) and prices only genuine level differences. The classic
    * O(m²) DP runs as a RELATIONAL FOLD — `aggregate` over one series
    * carrying the previous DP row, with an inner `aggregate` over the
    * other building the next row (the q327 convention: the identical
    * fold replayed as nested DuckDB `list_reduce`).
    *
    * Exactness: series values are exact integer revenue cents (q273's
    * round(×100) convention); every DP cell is |Δ| + min of three
    * BIGINTs — no floating point until the final cents→dollars
    * divisions by 100.0 and by the 2m step bound.
    *
    * Scale shape: one map-side-combinable (nation × month) census is
    * the only fact-scale pass (broadcast dim joins); the dense grid,
    * the per-nation sorted vector collapse, and the 300-pair DP all
    * run on ≤25×|months| census rows. The DP is per-pair-row lambda
    * compute — embarrassingly parallel across the pair census, zero
    * shuffle, and constant in the corpus size. */
  /** Per-nation monthly revenue as a zero-filled, month-sorted vector of
    * exact integer cents — the series census shared by the DTW matrix
    * (q354) and the Holt–Winters backtest (q366). One map-combinable
    * (nation × month) aggregate is the only fact-scale pass. */
  private[graft] def nationMonthlyCentsVecs(spark: SparkSession,
      dir: String): DataFrame = {
    val cust = broadcast(Kpis.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey")))
    val nat = broadcast(Kpis.table(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name")))
    val monthly = Kpis.table(spark, dir, "orders")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), trunc(col("o_orderdate"), "MM").as("mon"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val months = monthly.select(col("mon")).distinct()
    monthly.select(col("c_nationkey")).distinct()
      .crossJoin(broadcast(months))
      .join(monthly, Seq("c_nationkey", "mon"), "left")
      .na.fill(0L, Seq("cents"))
      .groupBy(col("c_nationkey"))
      .agg(transform(sort_array(collect_list(struct(col("mon"),
        col("cents")))), s => s.getField("cents")).as("v"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("v"))
  }

  /** DuckDB spelling of [[nationMonthlyCentsVecs]]: CTE prefix ending at
    * `vecs` = (nation, v) — shared verbatim by q354Sql and q366Sql. */
  private val nationVecsCte: String =
    """WITH monthly AS (
      |  SELECT c.c_nationkey, date_trunc('month', o.o_orderdate) AS mon,
      |    SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2),
      |months AS (SELECT DISTINCT mon FROM monthly),
      |grid AS (
      |  SELECT nk.c_nationkey, ms.mon, COALESCE(m.cents, 0) AS cents
      |  FROM (SELECT DISTINCT c_nationkey FROM monthly) nk
      |  CROSS JOIN months ms
      |  LEFT JOIN monthly m
      |    ON m.c_nationkey = nk.c_nationkey AND m.mon = ms.mon),
      |vecs AS (
      |  SELECT n.n_name AS nation,
      |    list_transform(
      |      list_sort(list({'mon': g.mon, 'cents': g.cents})),
      |      s -> s.cents) AS v
      |  FROM grid g JOIN nation n ON g.c_nationkey = n.n_nationkey
      |  GROUP BY 1)""".stripMargin

  def q354DtwMatrix(spark: SparkSession, dir: String): DataFrame = {
    val vecs = nationMonthlyCentsVecs(spark, dir)
    // Native codegen-era DTW (r17 optimization): one primitive O(m*n)
    // pass per pair, bit-identical to the relational HOF fold kept as
    // [[dtwCentsHof]] (asserted in IntVecExprSpec) — the HOF spelling
    // paid an interpreted lambda step AND an array concat per DP cell.
    val dtwCents = org.apache.spark.sql.graft.ColumnShim.column(
      org.apache.spark.sql.graft.DtwCentsL(
        org.apache.spark.sql.graft.ColumnShim.expression(col("va")),
        org.apache.spark.sql.graft.ColumnShim.expression(col("vb"))))
    vecs.select(col("nation").as("nation_a"), col("v").as("va"))
      .crossJoin(broadcast(
        vecs.select(col("nation").as("nation_b"), col("v").as("vb"))))
      .filter(col("nation_a") < col("nation_b"))
      .select(col("nation_a"), col("nation_b"),
        dtwCents.as("dtw_cents"), size(col("va")).as("m"))
      .select(col("nation_a"), col("nation_b"), col("dtw_cents"),
        (col("dtw_cents").cast("double") / 100.0).as("dtw_dollars"),
        (round(col("dtw_cents").cast("double") /
          (lit(2.0) * col("m").cast("double")), 4) / 100.0)
          .as("avg_step_dollars"))
      .orderBy("nation_a", "nation_b")
  }

  /** Executable HOF specification of q354's native DTW expression (the
    * pre-r17 spelling, kept for the bit-equality spec). */
  private[graft] def dtwCentsHof: org.apache.spark.sql.Column = expr(
    """element_at(
      |  aggregate(
      |    slice(va, 2, size(va) - 1),
      |    transform(sequence(1, size(vb)), j ->
      |      aggregate(slice(vb, 1, j), CAST(0 AS BIGINT),
      |        (s, y) -> s + abs(element_at(va, 1) - y))),
      |    (prev, x) ->
      |      aggregate(
      |        slice(vb, 2, size(vb) - 1),
      |        array(abs(x - element_at(vb, 1)) + element_at(prev, 1)),
      |        (cur, y) -> concat(cur, array(abs(x - y) +
      |          least(element_at(prev, size(cur) + 1),
      |                element_at(prev, size(cur)),
      |                element_at(cur, size(cur))))))),
      |  -1)""".stripMargin)

  val q354Sql: String = nationVecsCte +
    """,
      |pairs AS (
      |  SELECT a.nation AS nation_a, b.nation AS nation_b,
      |    a.v AS va, b.v AS vb
      |  FROM vecs a JOIN vecs b ON a.nation < b.nation),
      |dp AS (
      |  SELECT nation_a, nation_b, len(va) AS m,
      |    list_reduce(
      |      [list_transform(range(1, len(vb) + 1),
      |          j -> CAST(list_sum(list_transform(
      |            vb[1:CAST(j AS INTEGER)], y -> abs(va[1] - y)))
      |            AS BIGINT))]
      |      || list_transform(va[2:], x -> [x]),
      |      (prev, xx) ->
      |        list_reduce(
      |          [[abs(xx[1] - vb[1]) + prev[1]]]
      |          || list_transform(vb[2:], y -> [y]),
      |          (cur, yy) -> cur || [abs(xx[1] - yy[1]) +
      |            least(prev[CAST(len(cur) + 1 AS INTEGER)],
      |                  prev[CAST(len(cur) AS INTEGER)], cur[-1])]
      |        )
      |    )[-1] AS dtw_cents
      |  FROM pairs)
      |SELECT nation_a, nation_b, CAST(dtw_cents AS BIGINT) AS dtw_cents,
      |  CAST(dtw_cents AS DOUBLE) / 100.0 AS dtw_dollars,
      |  round(CAST(dtw_cents AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)), 4)
      |    / 100.0 AS avg_step_dollars
      |FROM dp ORDER BY nation_a, nation_b""".stripMargin

  // --------------------------------------------------------------- q366
  /** Holt–Winters additive triple exponential smoothing — the
    * exponential-smoothing family member the forecast bench here lacks
    * (q177 fits AR(1), q276 backtests the naive pair, q300 decomposes,
    * q317 reconciles): level + trend + 12 additive seasonal states per
    * nation, smoothed over the monthly revenue series with the
    * textbook recursions (α=0.3, β=0.1, γ=0.2), scored one-step-ahead
    * against the seasonal-naive baseline over the post-burn-in months,
    * and emitting the next-month forecast — the actual planning number.
    * The whole recursion is a RELATIONAL FOLD (the q327/q354
    * convention): state = a 16-double array [level, trend, Σ|err|, t,
    * s₁..s₁₂] carried by Spark `aggregate` and replayed as the
    * identical left fold in DuckDB `list_reduce` (init emulated by
    * prepending the state to singleton-wrapped items).
    *
    * Exactness: inputs are exact integer cents; the smoothing chain is
    * IEEE doubles in ONE fixed fold order with identical expression
    * trees in both engines (sums seeded by left-folded adds, constants
    * promoted decimal→double identically), so every state is
    * bit-equal; the seasonal-naive error sum stays exact BIGINT; the
    * four reported doubles are snapped at 6 dp.
    *
    * Scale shape: rides [[nationMonthlyCentsVecs]] — one
    * map-combinable (nation × month) census is the only fact-scale
    * pass; the fold is per-census-row lambda compute, constant in the
    * corpus. */
  def q366HoltWinters(spark: SparkSession, dir: String): DataFrame = {
    val vecs = nationMonthlyCentsVecs(spark, dir)
      .select(col("nation"), col("v"),
        expr("transform(v, c -> CAST(c AS DOUBLE))").as("vd"),
        size(col("v")).cast("long").as("m"))
      .filter(col("m") >= 25L)
    val mean12a =
      "aggregate(slice(vd, 1, 12), CAST(0.0 AS DOUBLE), (s, x) -> s + x)" +
        " / 12.0"
    val mean12b =
      "aggregate(slice(vd, 13, 12), CAST(0.0 AS DOUBLE), (s, x) -> s + x)" +
        " / 12.0"
    val idx = "((CAST(element_at(st, 4) AS INT) - 1) % 12 + 1)"
    val scur = s"element_at(st, 4 + $idx)"
    val lp = s"(0.3 * (x - $scur) + 0.7 * (element_at(st, 1)" +
      " + element_at(st, 2)))"
    val hw = expr(
      s"""aggregate(
         |  slice(vd, 13, size(vd) - 12),
         |  concat(
         |    array(
         |      $mean12a,
         |      ($mean12b - $mean12a) / 12.0,
         |      CAST(0.0 AS DOUBLE),
         |      CAST(13.0 AS DOUBLE)),
         |    transform(sequence(1, 12), i ->
         |      element_at(vd, i) - $mean12a)),
         |  (st, x) -> concat(
         |    array(
         |      $lp,
         |      0.1 * ($lp - element_at(st, 1)) + 0.9 * element_at(st, 2),
         |      element_at(st, 3) + abs(x - (element_at(st, 1)
         |        + element_at(st, 2) + $scur)),
         |      element_at(st, 4) + 1.0),
         |    transform(sequence(1, 12), j ->
         |      IF(j = $idx,
         |        0.2 * (x - $lp) + 0.8 * element_at(st, 4 + j),
         |        element_at(st, 4 + j)))))""".stripMargin)
    val sn = expr(
      """aggregate(sequence(13, CAST(size(v) AS INT)), CAST(0 AS BIGINT),
        |  (s, t) -> s + abs(element_at(v, t) - element_at(v, t - 12)))"""
        .stripMargin)
    vecs.select(col("nation"), col("m"), hw.as("hw"), sn.as("sn"))
      .select(col("nation"), col("m").as("n_months"),
        (col("m") - 12L).as("n_test"),
        (round(expr("element_at(hw, 3)") /
          (col("m") - 12L).cast("double") / lit(100.0), 6) + lit(0.0))
          .as("mae_hw"),
        (round(col("sn").cast("double") /
          (col("m") - 12L).cast("double") / lit(100.0), 6) + lit(0.0))
          .as("mae_snaive"),
        when(col("sn") === 0L, lit(0.0))
          .otherwise(round(lit(1.0) - expr("element_at(hw, 3)") /
            col("sn").cast("double"), 6) + lit(0.0))
          .as("skill_vs_snaive"),
        (round(expr("element_at(hw, 1) + element_at(hw, 2)" +
          " + element_at(hw, CAST(4 + m % 12 + 1 AS INT))") /
          lit(100.0), 6) + lit(0.0)).as("forecast_next"))
      .orderBy("nation")
  }

  val q366Sql: String = {
    val mean12a = "list_reduce(vd[1:12], (s, x) -> s + x) / 12.0"
    val mean12b = "list_reduce(vd[13:24], (s, x) -> s + x) / 12.0"
    val idx = "((CAST(st[4] AS INTEGER) - 1) % 12 + 1)"
    val scur = s"st[CAST(4 + $idx AS INTEGER)]"
    val lp = s"(0.3 * (xx[1] - $scur) + 0.7 * (st[1] + st[2]))"
    nationVecsCte +
      s""",
        |vd AS (
        |  SELECT nation, v, list_transform(v, c -> CAST(c AS DOUBLE)) AS vd,
        |    CAST(len(v) AS BIGINT) AS m
        |  FROM vecs WHERE len(v) >= 25),
        |folded AS (
        |  SELECT nation, m, v,
        |    list_reduce(
        |      [[
        |        $mean12a,
        |        ($mean12b - $mean12a) / 12.0,
        |        CAST(0.0 AS DOUBLE),
        |        CAST(13.0 AS DOUBLE)
        |      ] || list_transform(range(1, 13), i ->
        |            vd[CAST(i AS INTEGER)] - $mean12a)]
        |      || list_transform(vd[13:], x -> [x]),
        |      (st, xx) ->
        |        [
        |          $lp,
        |          0.1 * ($lp - st[1]) + 0.9 * st[2],
        |          st[3] + abs(xx[1] - (st[1] + st[2] + $scur)),
        |          st[4] + 1.0
        |        ] || list_transform(range(1, 13), j ->
        |              CASE WHEN j = $idx
        |                THEN 0.2 * (xx[1] - $lp)
        |                  + 0.8 * st[CAST(4 + j AS INTEGER)]
        |                ELSE st[CAST(4 + j AS INTEGER)] END)
        |    ) AS hw,
        |    CAST(list_reduce(
        |      [CAST(0 AS BIGINT)] || list_transform(range(13, len(v) + 1),
        |        t -> abs(v[CAST(t AS INTEGER)] - v[CAST(t - 12 AS INTEGER)])),
        |      (s, x) -> s + x) AS BIGINT) AS sn
        |  FROM vd)
        |SELECT nation, m AS n_months, m - 12 AS n_test,
        |  round(hw[3] / CAST(m - 12 AS DOUBLE) / 100.0, 6) + 0.0 AS mae_hw,
        |  round(CAST(sn AS DOUBLE) / CAST(m - 12 AS DOUBLE) / 100.0, 6)
        |    + 0.0 AS mae_snaive,
        |  CASE WHEN sn = 0 THEN 0.0
        |       ELSE round(1.0 - hw[3] / CAST(sn AS DOUBLE), 6) + 0.0
        |  END AS skill_vs_snaive,
        |  round((hw[1] + hw[2] + hw[CAST(4 + m % 12 + 1 AS INTEGER)])
        |    / 100.0, 6) + 0.0 AS forecast_next
        |FROM folded ORDER BY nation""".stripMargin
  }

  // --------------------------------------------------------------- q390
  /** Dominant-period detection — the question every seasonal operator
    * here ASSUMES an answer to (q148's indices, q300's STL, q366's 12
    * seasonal states all hardcode period 12): per nation, the
    * autocorrelation of monthly revenue at every lag 1..12 and the lag
    * that maximizes it — data-driven evidence that 12 IS the period
    * (or that a nation's demand cycles differently). Centered algebra
    * stays EXACT: with y_t = n·x_t − Σx (integer cents scaled by n),
    * ACF(k) = Σ y_t·y_{t+k} / Σ y_t² needs no means or doubles until
    * the final ratio — every product accumulates in DECIMAL(38,0).
    *
    * Exactness: y values and their products are exact integers/
    * decimals; each ACF is ONE decimal/decimal→double division snapped
    * at 6 dp; the argmax breaks ties on the smaller lag via an exact
    * struct max.
    *
    * Scale shape: rides [[nationMonthlyCentsVecs]]'s single
    * map-combinable census; the lag self-join runs on the ≤25×|months|
    * census rows ×12 lags — constant in the corpus. */
  def q390PeriodDetect(spark: SparkSession, dir: String): DataFrame = {
    val vecs = nationMonthlyCentsVecs(spark, dir)
      .select(col("nation"), col("v"), size(col("v")).as("m"))
      .filter(col("m") >= 24)
    // y_t = m*x_t - S (exact longs; |y| <= m*max cents ~ 1e12)
    val withY = vecs.select(col("nation"), col("m"),
      expr("""transform(v, x -> CAST(size(v) AS BIGINT) * x
        |  - aggregate(v, CAST(0 AS BIGINT), (s, e) -> s + e))"""
        .stripMargin).as("y"))
    val cells = withY.select(col("nation"), col("m"),
      posexplode(col("y")).as(Seq("t", "yt")))
    val den = cells.groupBy(col("nation"))
      .agg(sum(col("yt").cast("decimal(19,0)") * col("yt")).as("d"))
    // lag predicates live IN the join condition (applied as the pairs
    // stream out of the equi-join on nation) so the bounded O(m*12)
    // pair set is never widened to the full O(m^2) per nation
    val laggedR = cells.select(col("nation").as("n2"),
      col("yt").as("ylag"), col("t").as("tl"))
    val lagged = cells.select(col("nation"), col("t"), col("yt"))
      .join(laggedR, col("nation") === col("n2") &&
        col("tl") > col("t") && col("tl") - col("t") <= 12)
      .select(col("nation"), (col("tl") - col("t")).as("lag"),
        (col("yt").cast("decimal(19,0)") * col("ylag")).as("p"))
    val acf = lagged.groupBy(col("nation"), col("lag"))
      .agg(sum(col("p")).as("num"))
      .join(den, "nation")
      .select(col("nation"), col("lag"),
        (round(col("num").cast("double") / col("d").cast("double"), 9) +
          lit(0.0)).as("r"))
    acf.groupBy(col("nation"))
      .agg(max(struct(col("r"), (-col("lag")).as("nl"))).as("best"),
        max(when(col("lag") === 12, col("r"))).as("r12"))
      .select(col("nation"), (-col("best.nl")).cast("long").as("best_lag"),
        (round(col("best.r"), 6) + lit(0.0)).as("r_best"),
        (round(col("r12"), 6) + lit(0.0)).as("r_annual"),
        (col("best.nl") === -12).as("annual_dominant"))
      .orderBy("nation")
  }

  val q390Sql: String = nationVecsCte +
    """,
      |wy AS (
      |  SELECT nation, len(v) AS m,
      |    list_transform(v, x -> CAST(len(v) AS BIGINT) * x
      |      - list_reduce(v, (s, e) -> s + e)) AS y
      |  FROM vecs WHERE len(v) >= 24),
      |cells AS (
      |  SELECT nation, m, CAST(i AS INTEGER) - 1 AS t,
      |    y[CAST(i AS INTEGER)] AS yt
      |  FROM wy CROSS JOIN LATERAL unnest(range(1, len(y) + 1)) AS u(i)),
      |den AS (
      |  SELECT nation, SUM(CAST(yt AS DECIMAL(19,0)) * yt) AS d
      |  FROM cells GROUP BY 1),
      |lagged AS (
      |  SELECT a.nation, b.t - a.t AS lag,
      |    CAST(a.yt AS DECIMAL(19,0)) * b.yt AS p
      |  FROM cells a JOIN cells b
      |    ON a.nation = b.nation AND b.t > a.t AND b.t - a.t <= 12),
      |acf AS (
      |  SELECT l.nation, l.lag,
      |    round(CAST(SUM(p) AS DOUBLE) / CAST(MAX(d) AS DOUBLE), 9) + 0.0
      |      AS r
      |  FROM lagged l JOIN den USING (nation)
      |  GROUP BY 1, 2),
      |best AS (
      |  SELECT nation, MAX({'r': r, 'nl': -lag}) AS b,
      |    MAX(CASE WHEN lag = 12 THEN r END) AS r12
      |  FROM acf GROUP BY 1)
      |SELECT nation, CAST(-(b.nl) AS BIGINT) AS best_lag,
      |  round(b.r, 6) + 0.0 AS r_best,
      |  round(r12, 6) + 0.0 AS r_annual,
      |  -(b.nl) = 12 AS annual_dominant
      |FROM best ORDER BY nation""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q390_period_detect", q390PeriodDetect _, q390Sql),
    Query("q366_holt_winters", q366HoltWinters _, q366Sql),
    Query("q354_dtw_matrix", q354DtwMatrix _, q354Sql),
    Query("q317_hier_forecast", q317HierForecast _, q317Sql),
    Query("q303_permutation_entropy", q303PermutationEntropy _, q303Sql),
    Query("q301_peak_trailing_window", q301PeakTrailingWindow _, q301Sql),
    Query("q300_decomposition_strength", q300DecompositionStrength _, q300Sql),
    Query("q293_imr_chart", q293ImrChart _, q293Sql),
    Query("q288_max_drawdown", q288MaxDrawdown _, q288Sql),
    Query("q276_mase_backtest", q276MaseBacktest _, q276Sql),
    Query("q264_dispersion_index", q264DispersionIndex _, q264Sql),
    Query("q261_gumbel_maxima", q261GumbelMaxima _, q261Sql),
    Query("q197_crosscorr", q197CrossCorrelation _, q197Sql),
    Query("q148_seasonal_index", q148SeasonalIndex _, q148Sql),
    Query("q62_gap_fill", q62GapFill _, q62Sql),
    Query("q124_activity_streaks", q124ActivityStreaks _, q124Sql),
    Query("q125_ewma_revenue", q125EwmaRevenue _, q125Sql),
    Query("q130_autocorr_revenue", q130AutocorrRevenue _, q130Sql),
    Query("q169_cusum_changepoint", q169CusumChangepoint _, q169Sql),
    Query("q177_ar1_forecast", q177Ar1Forecast _, q177Sql),
    Query("q207_rolling_median", q207RollingMedian _, q207Sql),
    Query("q210_record_orders", q210RecordOrders _, q210Sql),
    Query("q212_weekday_anova", q212WeekdayAnova _, q212Sql),
    Query("q222_hurst_exponent", q222HurstExponent _, q222Sql),
    Query("q241_p_chart", q241PChart _, q241Sql),
    Query("q246_runs_test", q246RunsTest _, q246Sql),
    Query("q253_c_chart", q253CChart _, q253Sql))

  // --------------------------------------------------------------- q253
  /** c-chart for daily error-event counts: Shewhart limits c̄ ± 3√c̄
    * (LCL clamped at 0) around the mean daily error count, flagging
    * out-of-control days. q241 charts a PROPORTION (per-unit
    * denominators); the c-chart is its count-data sibling for a
    * constant exposure window — together they're the SPC pair an ops
    * dashboard runs on pipeline telemetry.
    *
    * Exactness: daily counts exact; c̄ is one double division; limits
    * and flags are single double expressions (identical spelling), 6
    * dp, −0.0-guarded.
    *
    * Scale shape: one filtered map-combinable daily census + 1-row
    * broadcast mean. */
  def q253CChart(spark: SparkSession, dir: String): DataFrame = {
    val daily = Kpis.eventsTable(spark, dir)
      .filter(col("event_type") === "error")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val overall = daily.agg(
      count(lit(1)).as("n_days"), sum(col("c")).as("total"))
    val cbar = col("total").cast("double") / col("n_days").cast("double")
    daily.crossJoin(broadcast(overall))
      .select(
        col("day"), col("c"),
        (round(cbar, 6) + lit(0.0)).as("c_bar"),
        (round(greatest(cbar - lit(3.0) * sqrt(cbar), lit(0.0)), 6) +
          lit(0.0)).as("lcl"),
        (round(cbar + lit(3.0) * sqrt(cbar), 6) + lit(0.0)).as("ucl"),
        (col("c").cast("double") > cbar + lit(3.0) * sqrt(cbar) ||
          col("c").cast("double") < cbar - lit(3.0) * sqrt(cbar))
          .as("out_of_control"))
      .orderBy("day")
  }

  val q253Sql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
      |  FROM events WHERE event_type = 'error' GROUP BY 1),
      |o AS (
      |  SELECT COUNT(*) AS n_days, CAST(SUM(c) AS BIGINT) AS total
      |  FROM daily)
      |SELECT day, c,
      |  round(CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE), 6) + 0.0
      |    AS c_bar,
      |  round(greatest(CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE) -
      |    3.0 * sqrt(CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE)),
      |    0.0), 6) + 0.0 AS lcl,
      |  round(CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE) +
      |    3.0 * sqrt(CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE)), 6)
      |    + 0.0 AS ucl,
      |  (CAST(c AS DOUBLE) > CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE)
      |     + 3.0 * sqrt(CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE))
      |   OR CAST(c AS DOUBLE) <
      |     CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE)
      |     - 3.0 * sqrt(CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE)))
      |    AS out_of_control
      |FROM daily, o ORDER BY day""".stripMargin

  // --------------------------------------------------------------- q246
  /** Wald–Wolfowitz runs test on daily revenue: is the sequence of
    * above/below-median days random, or does it clump? Too FEW runs
    * means persistent regimes (q222's H > 0.5 told the same story via
    * scaling; this is the classical nonparametric test with a z-score);
    * too many means oscillation. Median-split signs, run count R, and
    * z = (R − μ_R)/σ_R with μ_R = 1 + 2n₊n₋/n.
    *
    * Exactness: the median split uses DOUBLED order statistics of the
    * daily census (exact decimal compare, q207's convention; exact-
    * median days are excluded as the test prescribes); the run count
    * is an exact lag-compare sum; z is one double expression over
    * exact integers, 6 dp, −0.0-guarded.
    *
    * Scale shape: daily census from one fact agg; the sign/lag windows
    * run over the census (WindowGuardSpec-pinned). */
  def q246RunsTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Kpis.table(spark, dir, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("ship_day"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).as("rev"))
    // exact doubled median of the daily census: sum of the two middle
    // order statistics under (rev, ship_day) order
    val w = Window.orderBy(col("rev"), col("ship_day"))
    val n1 = daily.agg(count(lit(1)).as("nd"))
    val med2 = daily
      .withColumn("rk", row_number().over(w).cast("long"))
      .crossJoin(broadcast(n1))
      .filter(col("rk") === expr("(nd + 1) div 2") ||
        col("rk") === expr("nd div 2 + 1"))
      .agg(sum(when(expr("(nd + 1) div 2 = nd div 2 + 1"),
        col("rev") * 2).otherwise(col("rev"))).as("m2"))
    val signed = daily.crossJoin(broadcast(med2))
      .filter(col("rev") * 2 =!= col("m2"))
      .withColumn("s", when(col("rev") * 2 > col("m2"), 1).otherwise(0))
    val lagw = Window.orderBy(col("ship_day"))
    signed
      .withColumn("prev", lag(col("s"), 1).over(lagw))
      .agg(
        count(lit(1)).as("n"),
        sum(col("s")).as("n_pos"),
        sum(when(col("prev").isNull || col("prev") =!= col("s"), 1L)
          .otherwise(0L)).as("runs"))
      .select(col("n"), col("n_pos"),
        (col("n") - col("n_pos")).as("n_neg"), col("runs"),
        (round(
          (col("runs").cast("double") -
            (lit(1.0) + lit(2.0) * col("n_pos").cast("double") *
              (col("n") - col("n_pos")).cast("double") /
              col("n").cast("double"))) /
            sqrt(
              lit(2.0) * col("n_pos").cast("double") *
                (col("n") - col("n_pos")).cast("double") *
                (lit(2.0) * col("n_pos").cast("double") *
                  (col("n") - col("n_pos")).cast("double") -
                  col("n").cast("double")) /
                (col("n").cast("double") * col("n").cast("double") *
                  (col("n") - 1).cast("double"))), 6) + lit(0.0))
          .as("z_score"))
  }

  val q246Sql: String =
    """WITH daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS ship_day,
      |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |      AS rev
      |  FROM lineitem GROUP BY 1),
      |nn AS (SELECT COUNT(*) AS nd FROM daily),
      |rk AS (
      |  SELECT rev,
      |    CAST(row_number() OVER (ORDER BY rev, ship_day) AS BIGINT) AS rk
      |  FROM daily),
      |med AS (
      |  SELECT SUM(CASE WHEN (nd + 1) // 2 = nd // 2 + 1 THEN rev * 2
      |             ELSE rev END) AS m2
      |  FROM rk, nn
      |  WHERE rk = (nd + 1) // 2 OR rk = nd // 2 + 1),
      |signed AS (
      |  SELECT ship_day,
      |    CASE WHEN rev * 2 > m2 THEN 1 ELSE 0 END AS s
      |  FROM daily, med WHERE rev * 2 <> m2),
      |lagged AS (
      |  SELECT s, lag(s) OVER (ORDER BY ship_day) AS prev FROM signed),
      |sums AS (
      |  SELECT COUNT(*) AS n, CAST(SUM(s) AS BIGINT) AS n_pos,
      |    CAST(SUM(CASE WHEN prev IS NULL OR prev <> s THEN 1 ELSE 0 END)
      |      AS BIGINT) AS runs
      |  FROM lagged)
      |SELECT n, n_pos, n - n_pos AS n_neg, runs,
      |  round(
      |    (CAST(runs AS DOUBLE) -
      |      (1.0 + 2.0 * CAST(n_pos AS DOUBLE) *
      |        CAST(n - n_pos AS DOUBLE) / CAST(n AS DOUBLE))) /
      |    sqrt(2.0 * CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE) *
      |      (2.0 * CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE) -
      |       CAST(n AS DOUBLE)) /
      |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) *
      |       CAST(n - 1 AS DOUBLE))), 6) + 0.0 AS z_score
      |FROM sums""".stripMargin

  // --------------------------------------------------------------- q241
  /** p-chart (attribute control chart) for the monthly return rate:
    * per ship month, the fraction of lineitems with l_returnflag 'R',
    * Shewhart 3σ control limits around the overall rate
    * (p̄ ± 3·√(p̄(1−p̄)/n_t), clamped to [0,1]), and the out-of-control
    * flag. The SPC complement to q169's CUSUM: CUSUM finds WHERE the
    * level shifted; the p-chart flags which periods breach limits under
    * stationarity — the chart an ops review actually reads.
    *
    * Exactness: monthly counts are exact; p, limits, and the flag are
    * single double expressions over them (the flag compares the SAME
    * spelled expressions both engines computed), 6 dp, −0.0-guarded.
    *
    * Scale shape: one map-combinable monthly census + a 1-row
    * broadcast overall rate. Months are calendar-bounded. */
  def q241PChart(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Kpis.table(spark, dir, "lineitem")
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("m"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r"))
    val overall = monthly.agg(
      sum(col("n")).as("tn"), sum(col("r")).as("tr"))
    val pbar = col("tr").cast("double") / col("tn").cast("double")
    val sigma = sqrt(pbar * (lit(1.0) - pbar) / col("n").cast("double"))
    monthly.crossJoin(broadcast(overall))
      .select(
        col("m").as("month"), col("n"),
        (round(col("r").cast("double") / col("n").cast("double"), 6) +
          lit(0.0)).as("p"),
        (round(pbar, 6) + lit(0.0)).as("p_bar"),
        (round(greatest(pbar - lit(3.0) * sigma, lit(0.0)), 6) + lit(0.0))
          .as("lcl"),
        (round(least(pbar + lit(3.0) * sigma, lit(1.0)), 6) + lit(0.0))
          .as("ucl"),
        (col("r").cast("double") / col("n").cast("double") >
          pbar + lit(3.0) * sigma ||
          col("r").cast("double") / col("n").cast("double") <
            pbar - lit(3.0) * sigma).as("out_of_control"))
      .orderBy("month")
  }

  val q241Sql: String =
    """WITH monthly AS (
      |  SELECT strftime(l_shipdate, '%Y-%m') AS m, COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS r
      |  FROM lineitem GROUP BY 1),
      |overall AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(r) AS BIGINT) AS tr
      |  FROM monthly)
      |SELECT m AS month, n,
      |  round(CAST(r AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0 AS p,
      |  round(CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE), 6) + 0.0 AS p_bar,
      |  round(greatest(CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE) -
      |    3.0 * sqrt((CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE)) *
      |      (1.0 - CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE)) /
      |      CAST(n AS DOUBLE)), 0.0), 6) + 0.0 AS lcl,
      |  round(least(CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE) +
      |    3.0 * sqrt((CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE)) *
      |      (1.0 - CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE)) /
      |      CAST(n AS DOUBLE)), 1.0), 6) + 0.0 AS ucl,
      |  (CAST(r AS DOUBLE) / CAST(n AS DOUBLE) >
      |     CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE) +
      |     3.0 * sqrt((CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE)) *
      |       (1.0 - CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE)) /
      |       CAST(n AS DOUBLE))
      |   OR CAST(r AS DOUBLE) / CAST(n AS DOUBLE) <
      |     CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE) -
      |     3.0 * sqrt((CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE)) *
      |       (1.0 - CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE)) /
      |       CAST(n AS DOUBLE))) AS out_of_control
      |FROM monthly, overall ORDER BY month""".stripMargin

  // --------------------------------------------------------------- q222
  /** Hurst exponent of daily revenue by rescaled-range (R/S) analysis:
    * split the day-indexed series into blocks of m ∈ {8, 16, 32, 64}
    * days, compute each block's range-of-cumulative-deviations over
    * standard deviation, average per m, and fit the log-log slope —
    * H ≈ 0.5 is a memoryless series, H > 0.5 long-range persistence
    * (trends compound: plan safety stock accordingly), H < 0.5 mean
    * reversion. The long-memory companion to q130's short-lag ACF.
    *
    * Exactness: block sums Σx, Σx² are exact decimals; each per-row
    * cumulative deviation is a SINGLE double expression over exact
    * operands (m·cum − j·Σx, never an accumulating float sum — block
    * range uses max/min, which are order-independent); per-block R/S is
    * rounded into DECIMAL(20,12) before the per-m mean; the 4-point
    * log-log fit reuses q186's rounded-DECIMAL(18,9) sums.
    *
    * Scale shape: fact → daily census; the day index is the census's
    * one global window (WindowGuardSpec-pinned); everything after is
    * partitioned by (m, block) — bounded frames of ≤64 rows — plus two
    * census-scale aggregates. */
  def q222HurstExponent(spark: SparkSession, dir: String): DataFrame = {
    val daily = Kpis.table(spark, dir, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("ship_day"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).cast("decimal(19,4)").as("x"))
      .withColumn("idx",
        row_number().over(Window.orderBy(col("ship_day"))).cast("long"))
    val rows = daily
      .select(col("idx"), col("x"),
        explode(array(lit(8), lit(16), lit(32), lit(64))).as("m"))
      .withColumn("block", expr("(idx - 1) div m"))
    val byBlock = Window.partitionBy(col("m"), col("block"))
      .orderBy(col("idx"))
    val withCum = rows
      .withColumn("jb", row_number().over(byBlock).cast("long"))
      .withColumn("cum", sum(col("x")).over(
        byBlock.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val stats = rows.groupBy(col("m"), col("block"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("n") === col("m"))
    val rsBlocks = withCum
      .join(stats, Seq("m", "block"))
      .withColumn("cd",
        col("m").cast("double") * col("cum").cast("double") -
          col("jb").cast("double") * col("sx").cast("double"))
      .groupBy(col("m"), col("block"), col("sx"), col("sxx"))
      .agg(max(col("cd")).as("mx"), min(col("cd")).as("mn"))
      .select(col("m"),
        round(
          ((col("mx") - col("mn")) / col("m").cast("double")) /
            sqrt(
              (col("m").cast("double") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")) /
                (col("m").cast("double") * col("m").cast("double"))),
          12).cast("decimal(20,12)").as("rs"))
    val perM = rsBlocks.groupBy(col("m"))
      .agg(count(lit(1)).as("n_blocks"), sum(col("rs")).as("rs_sum"))
      .withColumn("mean_rs",
        col("rs_sum").cast("double") / col("n_blocks").cast("double"))
      .withColumn("lx",
        round(log(col("m").cast("double")), 9).cast("decimal(18,9)"))
      .withColumn("ly", round(log(col("mean_rs")), 9).cast("decimal(18,9)"))
    val fit = perM.agg(
        count(lit(1)).as("np"),
        sum(col("lx")).cast("double").as("sx2"),
        sum(col("lx") * col("lx")).cast("double").as("sxx2"),
        sum(col("ly")).cast("double").as("sy2"),
        sum(col("lx") * col("ly")).cast("double").as("sxy2"))
      .select((round(
        (col("np").cast("double") * col("sxy2") - col("sx2") * col("sy2")) /
          (col("np").cast("double") * col("sxx2") - col("sx2") * col("sx2")),
        6) + lit(0.0)).as("hurst"))
    perM
      .select(col("m"), col("n_blocks"),
        (round(col("mean_rs"), 6) + lit(0.0)).as("mean_rs"))
      .crossJoin(broadcast(fit))
      .orderBy("m")
  }

  val q222Sql: String =
    """WITH daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS ship_day,
      |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
      |      AS DECIMAL(18,4))) AS DECIMAL(19,4)) AS x
      |  FROM lineitem GROUP BY 1),
      |di AS (
      |  SELECT x, CAST(row_number() OVER (ORDER BY ship_day) AS BIGINT)
      |    AS idx
      |  FROM daily),
      |rows0 AS (
      |  SELECT idx, x, m, (idx - 1) // m AS block
      |  FROM di CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS m) ms),
      |wc AS (
      |  SELECT m, block, x,
      |    CAST(row_number() OVER (PARTITION BY m, block ORDER BY idx)
      |      AS BIGINT) AS jb,
      |    SUM(x) OVER (PARTITION BY m, block ORDER BY idx
      |                 ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM rows0),
      |stats AS (
      |  SELECT m, block, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx
      |  FROM rows0 GROUP BY 1, 2),
      |cd AS (
      |  SELECT wc.m, wc.block, s.sx, s.sxx,
      |    CAST(wc.m AS DOUBLE) * CAST(wc.cum AS DOUBLE) -
      |      CAST(wc.jb AS DOUBLE) * CAST(s.sx AS DOUBLE) AS cd
      |  FROM wc JOIN stats s ON wc.m = s.m AND wc.block = s.block
      |  WHERE s.n = s.m),
      |rsb AS (
      |  SELECT m,
      |    CAST(round(
      |      ((MAX(cd) - MIN(cd)) / CAST(m AS DOUBLE)) /
      |      sqrt((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |            CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
      |           (CAST(m AS DOUBLE) * CAST(m AS DOUBLE))), 12)
      |      AS DECIMAL(20,12)) AS rs
      |  FROM cd GROUP BY m, block, sx, sxx),
      |perm AS (
      |  SELECT m, COUNT(*) AS n_blocks,
      |    CAST(SUM(rs) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_rs
      |  FROM rsb GROUP BY 1),
      |pts AS (
      |  SELECT m, n_blocks, mean_rs,
      |    CAST(round(ln(CAST(m AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lx,
      |    CAST(round(ln(mean_rs), 9) AS DECIMAL(18,9)) AS ly
      |  FROM perm),
      |fit AS (
      |  SELECT round(
      |    (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(lx * ly) AS DOUBLE) -
      |     CAST(SUM(lx) AS DOUBLE) * CAST(SUM(ly) AS DOUBLE)) /
      |    (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(lx * lx) AS DOUBLE) -
      |     CAST(SUM(lx) AS DOUBLE) * CAST(SUM(lx) AS DOUBLE)), 6) + 0.0
      |    AS hurst
      |  FROM pts)
      |SELECT m, n_blocks, round(mean_rs, 6) + 0.0 AS mean_rs, hurst
      |FROM pts, fit ORDER BY m""".stripMargin

  // --------------------------------------------------------------- q212
  /** One-way ANOVA of daily revenue by weekday: how much of the
    * day-to-day revenue variance is the weekly cycle? Reports the
    * between-weekday and total sums of squares and η² = SSB/SST — the
    * "seasonal strength" gate that decides whether a forecast (q120,
    * q177) should carry weekday terms at all. Complements q148 (monthly
    * indices) and q194 (hour-of-day profile) at the weekly grain.
    *
    * Exactness: weekday is pure integer arithmetic — (days-since-epoch
    * + 4) mod 7, no engine calendar API (Spark's dayofweek and DuckDB's
    * disagree on numbering). Daily revenues are exact decimals; SST =
    * Σx² − n·x̄² is one double expression over exact sums; SSB's 7
    * per-weekday terms are each rounded into DECIMAL(28,4) BEFORE the
    * cross-cell total (q208's discipline: never a multi-row double sum).
    *
    * Scale shape: fact → daily census (map-combinable agg) → 7-cell
    * weekday census → 1-row broadcast totals. No window. */
  def q212WeekdayAnova(spark: SparkSession, dir: String): DataFrame = {
    val daily = Kpis.table(spark, dir, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("ship_day"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).as("rev"))
      .withColumn("wd",
        ((datediff(col("ship_day"), lit("1970-01-01").cast("date")) +
          lit(4)) % 7).cast("int"))
      // re-narrow the widened DECIMAL(28,4) day sum before squaring:
      // 19 digits forces DuckDB's int128 decimal path (an 18-digit
      // decimal multiplies in int64 and overflows — q208's discovery)
      // while (19,4)² still fits both engines' 38-digit cap
      .withColumn("rev", col("rev").cast("decimal(19,4)"))
    val cells = daily.groupBy(col("wd"))
      .agg(count(lit(1)).as("nd"), sum(col("rev")).as("sx"),
        sum(col("rev") * col("rev")).as("sxx"))
    val tot = cells.agg(
      sum(col("nd")).as("n"), sum(col("sx")).as("tsx"),
      sum(col("sxx")).as("tsxx"))
    val withGm = cells.crossJoin(broadcast(tot))
      .withColumn("gm", col("tsx").cast("double") / col("n").cast("double"))
      .withColumn("cm", col("sx").cast("double") / col("nd").cast("double"))
      .withColumn("ssb_term",
        round(col("nd").cast("double") *
          (col("cm") - col("gm")) * (col("cm") - col("gm")), 4)
          .cast("decimal(28,4)"))
    withGm
      .groupBy(col("n"), col("tsx"), col("tsxx"))
      .agg(sum(col("ssb_term")).as("ssb"))
      .select(
        col("n").as("n_days"),
        col("ssb").cast("double").as("ss_between"),
        (col("tsxx").cast("double") -
          col("n").cast("double") *
            (col("tsx").cast("double") / col("n").cast("double")) *
            (col("tsx").cast("double") / col("n").cast("double")))
          .as("ss_total"))
      .select(
        col("n_days"), col("ss_between"), col("ss_total"),
        (round(col("ss_between") / col("ss_total"), 6) + lit(0.0))
          .as("eta_squared"))
  }

  val q212Sql: String =
    """WITH daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS ship_day,
      |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |      AS rev
      |  FROM lineitem GROUP BY 1),
      |wd AS (
      |  SELECT (date_diff('day', DATE '1970-01-01', ship_day) + 4) % 7
      |      AS wd, CAST(rev AS DECIMAL(19,4)) AS rev
      |  FROM daily),
      |cells AS (
      |  SELECT wd, COUNT(*) AS nd, SUM(rev) AS sx, SUM(rev * rev) AS sxx
      |  FROM wd GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(nd) AS BIGINT) AS n, SUM(sx) AS tsx,
      |    SUM(sxx) AS tsxx
      |  FROM cells),
      |terms AS (
      |  SELECT n, tsx, tsxx,
      |    CAST(round(CAST(nd AS DOUBLE) *
      |      (CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE)
      |        - CAST(tsx AS DOUBLE) / CAST(n AS DOUBLE)) *
      |      (CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE)
      |        - CAST(tsx AS DOUBLE) / CAST(n AS DOUBLE)), 4)
      |      AS DECIMAL(28,4)) AS ssb_term
      |  FROM cells, tot),
      |agg AS (
      |  SELECT n, tsx, tsxx, SUM(ssb_term) AS ssb
      |  FROM terms GROUP BY 1, 2, 3)
      |SELECT n AS n_days, CAST(ssb AS DOUBLE) AS ss_between,
      |  CAST(tsxx AS DOUBLE) - CAST(n AS DOUBLE) *
      |    (CAST(tsx AS DOUBLE) / CAST(n AS DOUBLE)) *
      |    (CAST(tsx AS DOUBLE) / CAST(n AS DOUBLE)) AS ss_total,
      |  round(CAST(ssb AS DOUBLE) /
      |    (CAST(tsxx AS DOUBLE) - CAST(n AS DOUBLE) *
      |     (CAST(tsx AS DOUBLE) / CAST(n AS DOUBLE)) *
      |     (CAST(tsx AS DOUBLE) / CAST(n AS DOUBLE))), 6) + 0.0
      |    AS eta_squared
      |FROM agg""".stripMargin

  // --------------------------------------------------------------- q210
  /** All-time record-setting orders: every order whose value strictly
    * exceeds EVERY earlier order (chronological total order: orderdate,
    * then orderkey). The classic streaming-monitoring question — "was
    * this the biggest ever?" — asked of the batch history; the output is
    * the record progression (expected O(log n) rows by the records
    * theorem for exchangeable sequences).
    *
    * Exactness: values are exact cents (long); "strictly exceeds all
    * before" is evaluated against the EXCLUSIVE running max, so the
    * FIRST achiever of a value is the record and later ties are not —
    * both engines spell that identically (NULL exclusive max ⇒ first
    * row is a record).
    *
    * Scale shape: the running max comes from
    * [[graft.operators.RangeRank.withRunningMax]] (inclusive = false) —
    * a range shuffle + per-partition local cummax + a broadcast
    * exclusive-prefix max over the per-partition maxima — so the global
    * order statistic costs two linear shuffles and NO single-partition
    * window over the fact table (the oracle spells the one-window form;
    * results are bit-identical). */
  def q210RecordOrders(spark: SparkSession, dir: String): DataFrame = {
    val ev = Kpis.table(spark, dir, "orders")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    graft.operators.RangeRank
      .withRunningMax(ev, col("cents"), "prev_max",
        Seq(col("day"), col("o_orderkey")), inclusive = false)
      .filter(col("prev_max").isNull || col("cents") > col("prev_max"))
      .select(col("o_orderkey"), col("day"),
        (col("cents").cast("double") / lit(100.0)).as("record_price"))
      .orderBy("day", "o_orderkey")
  }

  val q210Sql: String =
    """WITH ev AS (
      |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS day,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |rm AS (
      |  SELECT *, MAX(cents) OVER (ORDER BY day, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |  FROM ev)
      |SELECT o_orderkey, day, CAST(cents AS DOUBLE) / 100.0 AS record_price
      |FROM rm WHERE prev_max IS NULL OR cents > prev_max
      |ORDER BY day, o_orderkey""".stripMargin

  // --------------------------------------------------------------- q207
  /** Rolling 7-day exact MEDIAN of daily revenue — the robust companion
    * to q4's rolling mean: one anomalous day (a flash sale, a backfill
    * burst) drags a 7-day mean for a week but leaves the rolling median
    * untouched, which is why monitoring baselines prefer it.
    *
    * Exactness: the window's decimal revenues are collected, sorted, and
    * the median is taken STRUCTURALLY — twice the median is the sum of
    * the two middle order statistics (the same element twice when the
    * frame is odd), an exact decimal add; the single ÷2.0 happens once
    * in double on identical operands in both engines. No median()
    * builtin on either side: window-median algorithms (segment trees,
    * interpolation conventions) are engine-specific; order statistics
    * are not.
    *
    * Scale shape: q4's argument — the fact table collapses in a
    * partial+final hash agg; the single-partition window runs over the
    * DAILY table (calendar-bounded, WindowGuardSpec-pinned) and each
    * frame sorts ≤7 elements. */
  def q207RollingMedian(spark: SparkSession, dir: String): DataFrame = {
    val daily = Kpis.table(spark, dir, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("ship_day"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).as("rev"))
    val w = Window.orderBy("ship_day").rowsBetween(-6, 0)
    daily
      .select(
        col("ship_day"),
        col("rev").cast("double").as("revenue"),
        sort_array(collect_list(col("rev")).over(w)).as("ls"))
      .withColumn("n", size(col("ls")))
      .select(
        col("ship_day"), col("revenue"),
        (expr("""CAST(element_at(ls, CAST((n + 1) div 2 AS INT)) +
                 element_at(ls, CAST(n div 2 + 1 AS INT)) AS DOUBLE)""") /
          lit(2.0)).as("rolling_med_7d"))
      .orderBy("ship_day")
  }

  val q207Sql: String =
    """WITH daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS ship_day,
      |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |      AS rev
      |  FROM lineitem GROUP BY 1),
      |win AS (
      |  SELECT ship_day, CAST(rev AS DOUBLE) AS revenue,
      |    list_sort(list(rev) OVER
      |      (ORDER BY ship_day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      |      AS ls
      |  FROM daily)
      |SELECT ship_day, revenue,
      |  CAST(ls[(len(ls) + 1) // 2] + ls[len(ls) // 2 + 1] AS DOUBLE) / 2.0
      |    AS rolling_med_7d
      |FROM win ORDER BY ship_day""".stripMargin
}
