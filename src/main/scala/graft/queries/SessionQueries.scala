package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query

/** Gap-based sessionization over the events stream table — the classic
  * behavioral-analytics operator. Batch formulation: per user, a new
  * session starts when the gap to the previous event exceeds the
  * threshold; session id = running count of session starts; then a
  * per-(user, session) rollup. The whole thing is two window functions +
  * one aggregation — each a single hash shuffle on user_id, which also
  * co-locates the session rollup (Catalyst reuses the partitioning).
  *
  * The streaming twin with explicit state lives in
  * graft.streaming.Sessionize; the two are asserted equivalent in tests.
  */
object SessionQueries {

  val GapMinutes = 30

  // ---------------------------------------------------------------- q34
  def q34Sessions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val e = Kpis.eventsTable(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      // integer microseconds on both sides: a seconds-granularity compare
      // (cast long vs DuckDB's fractional epoch()) can disagree on gaps
      // within 1s of the threshold
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >
            GapMinutes * 60L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    e.groupBy(col("user_id"), col("session_seq"))
      .agg(
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
      .orderBy("user_id", "session_seq")
  }

  val q34Sql: String =
    s"""WITH e AS (
      |  SELECT user_id, ts, event_id, value,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |m AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL
      |      OR epoch_us(ts) - epoch_us(prev_ts) > ${GapMinutes * 60L * 1000000L} THEN 1 ELSE 0 END AS new_session
      |  FROM e),
      |s AS (
      |  SELECT *, CAST(SUM(new_session) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM m)
      |SELECT user_id, session_seq,
      |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM s GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  // --------------------------------------------------------------- q377
  /** Session-gap calibration table — the tuning study BEHIND q34's 30-
    * minute constant: for candidate gap thresholds {5, 15, 30, 60, 120}
    * minutes, the session count the corpus would sessionize into, the
    * mean session length, and sessions per active user. The elbow of
    * n_sessions vs gap is how the threshold is actually chosen (too
    * small fragments journeys, too large merges visits); this emits the
    * whole curve from ONE pass so the 30-minute choice is an audited
    * decision, not folklore. Every candidate evaluates as a conditional
    * sum over the SAME lag column — adding a threshold is one more
    * column, never another shuffle (q236's multi-threshold discipline).
    *
    * Exactness: gaps are integer microseconds (q34's convention);
    * session counts are exact conditional sums; the two ratios are
    * single int/int divisions snapped at 6 dp.
    *
    * Scale shape: one hash shuffle on user_id for the lag window
    * (per-user state only), ONE map-combinable aggregate carrying all
    * five thresholds, then a 5-row unpivot off the checkpointed 1-row
    * census. */
  def q377GapCalibration(spark: SparkSession, dir: String): DataFrame = {
    val gaps = Seq(5L, 15L, 30L, 60L, 120L)
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val e = Kpis.eventsTable(spark, dir)
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser)))
    val aggs =
      Seq(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users")) ++
      gaps.map(g => sum(when(col("gap_us").isNull ||
        col("gap_us") > g * 60L * 1000000L, 1L).otherwise(0L)).as(s"s$g"))
    val census = graft.plans.Eager.ckpt(e.agg(aggs.head, aggs.tail: _*))
    gaps.map { g =>
      census.select(lit(g).as("gap_minutes"),
        col(s"s$g").as("n_sessions"), col("n_events"), col("n_users"))
    }.reduce(_ unionAll _)
      .select(col("gap_minutes"), col("n_sessions"),
        (round(col("n_events").cast("double") /
          col("n_sessions").cast("double"), 6) + lit(0.0))
          .as("mean_events_per_session"),
        (round(col("n_sessions").cast("double") /
          col("n_users").cast("double"), 6) + lit(0.0))
          .as("sessions_per_user"))
      .orderBy("gap_minutes")
  }

  val q377Sql: String = {
    val gaps = Seq(5L, 15L, 30L, 60L, 120L)
    val sums = gaps.map(g =>
      s"CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > " +
        s"${g * 60L * 1000000L} THEN 1 ELSE 0 END) AS BIGINT) AS s$g")
      .mkString(",\n      |    ")
    val unpivot = gaps.map(g =>
      s"SELECT CAST($g AS BIGINT) AS gap_minutes, s$g AS n_sessions, " +
        s"n_events, n_users FROM census").mkString("\n      |  UNION ALL ")
    s"""WITH e AS (
      |  SELECT user_id,
      |    epoch_us(ts) - epoch_us(lag(ts) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      |  FROM events),
      |census AS (
      |  SELECT COUNT(*) AS n_events,
      |    COUNT(DISTINCT user_id) AS n_users,
      |    $sums
      |  FROM e),
      |u AS (
      |  $unpivot)
      |SELECT gap_minutes, n_sessions,
      |  round(CAST(n_events AS DOUBLE) / CAST(n_sessions AS DOUBLE), 6)
      |    + 0.0 AS mean_events_per_session,
      |  round(CAST(n_sessions AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
      |    + 0.0 AS sessions_per_user
      |FROM u ORDER BY gap_minutes""".stripMargin
  }

  // --------------------------------------------------------------- q382
  /** Watermark-lateness calibration — the tuning study BEHIND every
    * watermark in the streaming twins (DriftStream's close, SrmStream's
    * day windows, DedupStream's horizon): replaying the event stream in
    * ARRIVAL order (event_id — the generator's write order), each
    * event's lateness is the event-time high-water mark seen so far
    * minus its own event time; for candidate watermark delays {1 min,
    * 10 min, 1 h, 1 d}, the share of events a stateful operator would
    * DROP as too late. The curve is how a delay is actually chosen
    * (too short drops data, too long bloats state linearly in the
    * delay); this emits it from one pass, with all four candidates as
    * conditional sums over the SAME lateness column (q377's
    * multi-threshold discipline).
    *
    * Exactness: lateness is exact integer microseconds off the exact
    * running maximum ([[graft.operators.RangeRank.withRunningMax]],
    * exclusive — never a single-partition window); drop counts are
    * conditional sums; the share is one division snapped at 6 dp.
    *
    * Scale shape: one range shuffle for the running max, ONE
    * map-combinable aggregate carrying all four candidates, a 4-row
    * unpivot off the checkpointed 1-row census. */
  def q382WatermarkCalibration(spark: SparkSession, dir: String)
      : DataFrame = {
    val delays = Seq(60L, 600L, 3600L, 86400L)
    val e = Kpis.eventsTable(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("tus"))
    val hw = graft.operators.RangeRank.withRunningMax(e, col("tus"),
      "hwm", Seq(col("event_id")), inclusive = false)
      .select((greatest(coalesce(col("hwm"), col("tus")) - col("tus"),
        lit(0L))).as("late_us"))
    val aggs =
      Seq(count(lit(1)).as("n_events"),
        max(col("late_us")).as("max_late_us")) ++
      delays.map(d => sum(when(col("late_us") > d * 1000000L, 1L)
        .otherwise(0L)).as(s"d$d"))
    val census = graft.plans.Eager.ckpt(hw.agg(aggs.head, aggs.tail: _*))
    delays.map { d =>
      census.select(lit(d).as("delay_seconds"),
        col(s"d$d").as("n_dropped"), col("n_events"), col("max_late_us"))
    }.reduce(_ unionAll _)
      .select(col("delay_seconds"), col("n_dropped"),
        (round(col("n_dropped").cast("double") /
          col("n_events").cast("double"), 6) + lit(0.0)).as("drop_share"),
        (round(col("max_late_us").cast("double") / lit(1000000.0), 6) +
          lit(0.0)).as("max_lateness_sec"))
      .orderBy("delay_seconds")
  }

  val q382Sql: String = {
    val delays = Seq(60L, 600L, 3600L, 86400L)
    val sums = delays.map(d =>
      s"CAST(SUM(CASE WHEN late_us > ${d * 1000000L} THEN 1 ELSE 0 END)" +
        s" AS BIGINT) AS d$d").mkString(",\n      |    ")
    val unpivot = delays.map(d =>
      s"SELECT CAST($d AS BIGINT) AS delay_seconds, d$d AS n_dropped, " +
        s"n_events, max_late_us FROM census")
      .mkString("\n      |  UNION ALL ")
    s"""WITH e AS (
      |  SELECT greatest(COALESCE(MAX(epoch_us(ts)) OVER (
      |      ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      epoch_us(ts)) - epoch_us(ts), 0) AS late_us
      |  FROM events),
      |census AS (
      |  SELECT COUNT(*) AS n_events,
      |    CAST(MAX(late_us) AS BIGINT) AS max_late_us,
      |    $sums
      |  FROM e),
      |u AS (
      |  $unpivot)
      |SELECT delay_seconds, n_dropped,
      |  round(CAST(n_dropped AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
      |    + 0.0 AS drop_share,
      |  round(CAST(max_late_us AS DOUBLE) / 1000000.0, 6) + 0.0
      |    AS max_lateness_sec
      |FROM u ORDER BY delay_seconds""".stripMargin
  }

  // --------------------------------------------------------------- q388
  /** Streaming state-budget census — capacity planning for the
    * stateful twins, measured from the batch table instead of asserted
    * in prose: for each state class a live operator holds, the exact
    * row count at the stream's cutoff. a_open_sessions — users whose
    * last event is within the 30-minute gap of the global cutoff (the
    * sessions Sessionize still holds open); b_final_day_active — the
    * day-window state SrmStream carries on the last day;
    * c_event_type_slots — HeavyHitterStream's bounded map;
    * d_per_user_keyed — the per-user keyed state RecordStream /
    * StreakStream retain for every user ever seen (the class that
    * GROWS — its share is the argument for state TTLs). Each row
    * carries the state's share of total events — what fraction of the
    * stream a restart would have to rebuild from state vs replay.
    *
    * Exactness: ALL-integer counts and single snapped divisions.
    *
    * Scale shape: one map-combinable per-user census (max ts), three
    * distinct collapses, a 4-row union — every stage linear or
    * census-bounded. */
  def q388StreamStateBudget(spark: SparkSession, dir: String): DataFrame = {
    val e = Kpis.eventsTable(spark, dir)
    val perUser = e.groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("last_us"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cutoff = broadcast(perUser.agg(max(col("last_us")).as("cut"),
      count(lit(1)).as("n_users")))
    val open = perUser.crossJoin(cutoff)
      .filter(col("cut") - col("last_us") <= lit(GapMinutes * 60L * 1000000L))
      .agg(count(lit(1)).as("v"))
    val finalDay = e.select(to_date(col("ts")).as("d"), col("user_id"))
      .crossJoin(broadcast(
        e.agg(max(to_date(col("ts"))).as("dmax"))))
      .filter(col("d") === col("dmax"))
      .agg(countDistinct(col("user_id")).as("v"))
    val types = e.agg(countDistinct(col("event_type")).as("v"))
    val users = cutoff.select(col("n_users").as("v"))
    val total = broadcast(e.agg(count(lit(1)).as("n_events")))
    def row(name: String, df: DataFrame) =
      df.crossJoin(total)
        .select(lit(name).as("state_class"), col("v").as("state_rows"),
          col("n_events"),
          (round(col("v").cast("double") / col("n_events").cast("double"),
            6) + lit(0.0)).as("share_of_events"))
    val out = graft.plans.Eager.ckpt(
      row("a_open_sessions", open)
        .unionAll(row("b_final_day_active", finalDay))
        .unionAll(row("c_event_type_slots", types))
        .unionAll(row("d_per_user_keyed", users))
        .orderBy("state_class"))
    perUser.unpersist()
    out
  }

  val q388Sql: String =
    s"""WITH pu AS (
      |  SELECT user_id, MAX(epoch_us(ts)) AS last_us FROM events
      |  GROUP BY 1),
      |cutoff AS (
      |  SELECT MAX(last_us) AS cut, COUNT(*) AS n_users FROM pu),
      |tot AS (SELECT COUNT(*) AS n_events FROM events),
      |a AS (
      |  SELECT COUNT(*) AS v FROM pu, cutoff
      |  WHERE cut - last_us <= ${GapMinutes * 60L * 1000000L}),
      |b AS (
      |  SELECT COUNT(DISTINCT user_id) AS v FROM events
      |  WHERE CAST(ts AS DATE) =
      |    (SELECT MAX(CAST(ts AS DATE)) FROM events)),
      |c AS (SELECT COUNT(DISTINCT event_type) AS v FROM events),
      |d AS (SELECT n_users AS v FROM cutoff),
      |u AS (
      |  SELECT 'a_open_sessions' AS state_class, v FROM a
      |  UNION ALL SELECT 'b_final_day_active', v FROM b
      |  UNION ALL SELECT 'c_event_type_slots', v FROM c
      |  UNION ALL SELECT 'd_per_user_keyed', v FROM d)
      |SELECT state_class, CAST(v AS BIGINT) AS state_rows,
      |  n_events,
      |  round(CAST(v AS DOUBLE) / CAST(n_events AS DOUBLE), 6) + 0.0
      |    AS share_of_events
      |FROM u, tot ORDER BY state_class""".stripMargin

  // --------------------------------------------------------------- q128
  /** Top-20 event 3-paths (trigram path mining): the most frequent
    * length-3 consecutive event-type sequences across all user streams —
    * q103's first-order transition matrix extended one hop, the primitive
    * behind "what journeys lead to checkout_failure?". Two leads over
    * ONE per-user window (q103's proven total order (ts, event_id)),
    * concat to a path string, count, deterministic top-k.
    *
    * Scale shape: a single shuffle on user_id for the window (per-user
    * state only), then a hash agg bounded by |types|³ — dozens of rows —
    * so the ORDER BY + LIMIT is TakeOrderedAndProject, never a global
    * sort of the event stream. The (count DESC, path ASC) order makes
    * the cut deterministic under ties. All-long/string output. */
  def q128Event3Paths(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Kpis.eventsTable(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(byUser))
      .withColumn("e3", lead(col("event_type"), 2).over(byUser))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy(concat_ws(">", col("event_type"), col("e2"), col("e3"))
        .as("path"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("path"))
      .limit(20)
  }

  val q128Sql: String =
    """WITH seq AS (
      |  SELECT event_type AS e1,
      |    LEAD(event_type, 1) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS e2,
      |    LEAD(event_type, 2) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS e3
      |  FROM events)
      |SELECT e1 || '>' || e2 || '>' || e3 AS path,
      |  COUNT(*) AS n_occurrences
      |FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      |GROUP BY 1 ORDER BY n_occurrences DESC, path LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q131
  /** Peak concurrent sessions (interval max-overlap, the sweep-line
    * classic): rebuild q34's session bounds, emit (+1 at start, −1 just
    * after end — inclusive-end semantics via end+1µs), running-sum the
    * sweep, report the global peak, the first instant it is reached, and
    * the session count. Sorting −1 before +1 at equal instants (ORDER BY
    * t, delta) keeps back-to-back sessions from counting as overlapping.
    *
    * Scale shape: the sweep is TWO-LEVEL — the running sum is partitioned
    * by calendar day with a per-day carry (cumulative day totals minus
    * the current day, a |days|-row second window) added back, so no
    * single-partition window ever sees the full sweep (the global-window
    * formulation DuckDB uses as the oracle is the semantics, not the
    * plan). Peak extraction is an aggregate + broadcast-back filter,
    * never a driver-side collect. Within equal (t, delta) runs the
    * running sum is monotone, so the set of prefix values — hence the
    * max and its first instant — is tie-order invariant. */
  def q131PeakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sess = Kpis.eventsTable(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >
            GapMinutes * 60L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"))
    val sweep = sess.select(col("start_us").as("t"), lit(1L).as("delta"))
      .unionAll(sess.select((col("end_us") + 1L).as("t"),
        lit(-1L).as("delta")))
      .withColumn("day", to_date(timestamp_micros(col("t"))))
    val inDay = Window.partitionBy(col("day")).orderBy(col("t"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dayTotals = sweep.groupBy(col("day"))
      .agg(sum(col("delta")).as("day_total"))
      .withColumn("carry",
        sum(col("day_total")).over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - col("day_total"))
      .select(col("day"), col("carry"))
    val cum = sweep
      .withColumn("in_day", sum(col("delta")).over(inDay))
      .join(broadcast(dayTotals), "day")
      .withColumn("cum", col("carry") + col("in_day"))
    val peak = cum.agg(max(col("cum")).as("peak_concurrent"))
    cum.join(broadcast(peak), col("cum") === col("peak_concurrent"))
      .agg(max(col("cum")).as("peak_concurrent"), min(col("t")).as("at_us"))
      .crossJoin(broadcast(sess.agg(count(lit(1)).as("n_sessions"))))
      .select(col("peak_concurrent"), col("at_us"), col("n_sessions"))
  }

  val q131Sql: String =
    s"""WITH e AS (
      |  SELECT user_id, ts, event_id,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_ts
      |  FROM events),
      |m AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL
      |      OR epoch_us(ts) - epoch_us(prev_ts) >
      |         ${GapMinutes * 60L * 1000000L} THEN 1 ELSE 0 END
      |    AS new_session
      |  FROM e),
      |s AS (
      |  SELECT *, SUM(new_session) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      |  FROM m),
      |sess AS (
      |  SELECT user_id, session_seq,
      |    MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us
      |  FROM s GROUP BY user_id, session_seq),
      |sweep AS (
      |  SELECT start_us AS t, CAST(1 AS BIGINT) AS delta FROM sess
      |  UNION ALL
      |  SELECT end_us + 1, CAST(-1 AS BIGINT) FROM sess),
      |cum AS (
      |  SELECT t, CAST(SUM(delta) OVER (ORDER BY t, delta
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum
      |  FROM sweep),
      |pk AS (SELECT MAX(cum) AS peak_concurrent FROM cum)
      |SELECT pk.peak_concurrent,
      |  (SELECT MIN(t) FROM cum WHERE cum = pk.peak_concurrent) AS at_us,
      |  (SELECT COUNT(*) FROM sess) AS n_sessions
      |FROM pk""".stripMargin

  // --------------------------------------------------------------- q182
  /** Inter-arrival-time audit per event type: mean gap, coefficient of
    * variation, and the implied Poisson rate, over the gaps between a
    * user's consecutive events of the same type. The point-process
    * health check behind q34's session gap threshold: a Poisson arrival
    * stream has CV ≈ 1; CV ≫ 1 means bursty (sessions exist — gap
    * sessionization is meaningful), CV ≪ 1 means a scheduler/bot is
    * emitting on a timer (worth quarantining). So this query is how the
    * q34 gap parameter gets justified from the data instead of guessed.
    *
    * Exactness: gaps are exact integer SECONDS (unix_micros difference
    * div 10⁶ — truncating integer division, identical both engines);
    * Σg and Σg² are exact decimal sums (g as DECIMAL(18,0): the square
    * stays in int128/Decimal(38) at any realistic gap), and the
    * mean/CV/rate chain is one identically-spelled double expression
    * (q129's convention). CV uses the population form √(nΣg²−(Σg)²)/Σg.
    *
    * Scale shape: one hash shuffle on (user_id, event_type) for the lag
    * window (users process independently — q34's plan), then one
    * map-combinable agg to |event types| rows. */
  def q182InterarrivalFit(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = Kpis.eventsTable(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .select(col("event_type"),
        expr("(unix_micros(ts) - prev_us) div 1000000")
          .cast("decimal(18,0)").as("g"))
    gaps
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        count(lit(1)).cast("double").as("n_d"),
        sum(col("g")).cast("double").as("sg"),
        sum(col("g") * col("g")).cast("double").as("sgg"))
      .select(col("event_type"), col("n_gaps"),
        (col("sg") / col("n_d")).as("mean_gap_seconds"),
        (sqrt(col("n_d") * col("sgg") - col("sg") * col("sg")) / col("sg"))
          .as("cv"),
        (lit(3600.0) * col("n_d") / col("sg")).as("rate_per_hour"))
      .orderBy("event_type")
  }

  val q182Sql: String =
    """WITH g AS (
      |  SELECT event_type,
      |    CAST((epoch_us(ts) -
      |      LAG(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
      |                              ORDER BY ts, event_id)) // 1000000
      |      AS DECIMAL(18,0)) AS g
      |  FROM events),
      |s AS (
      |  SELECT event_type, COUNT(*) AS n_gaps,
      |    CAST(COUNT(*) AS DOUBLE) AS n_d,
      |    CAST(CAST(SUM(g) AS VARCHAR) AS DOUBLE) AS sg,
      |    CAST(CAST(SUM(g * g) AS VARCHAR) AS DOUBLE) AS sgg
      |  FROM g WHERE g IS NOT NULL GROUP BY event_type)
      |SELECT event_type, n_gaps,
      |  sg / n_d AS mean_gap_seconds,
      |  sqrt(n_d * sgg - sg * sg) / sg AS cv,
      |  3600.0 * n_d / sg AS rate_per_hour
      |FROM s ORDER BY event_type""".stripMargin

  /** 9-dp cos/sin grid for the 24 clock angles θₕ = 2πh/24, generated
    * ONCE in Scala and emitted as DECIMAL(12,9) literals in BOTH engines
    * — the dotSqlPlaneLit discipline: no engine ever calls its own
    * cos/sin (libm, not correctly rounded), so the trigonometric
    * "measurements" are exact by construction. */
  private val hourCos: IndexedSeq[java.math.BigDecimal] = (0 until 24).map {
    h => new java.math.BigDecimal(math.cos(2.0 * math.Pi * h / 24.0))
      .setScale(9, java.math.RoundingMode.HALF_UP)
  }
  private val hourSin: IndexedSeq[java.math.BigDecimal] = (0 until 24).map {
    h => new java.math.BigDecimal(math.sin(2.0 * math.Pi * h / 24.0))
      .setScale(9, java.math.RoundingMode.HALF_UP)
  }

  // --------------------------------------------------------------- q194
  /** Circular (directional) statistics of event time-of-day per event
    * type: the mean clock direction and the resultant length R ∈ [0, 1]
    * — the CORRECT "average hour" when activity wraps midnight (a naive
    * mean of {23h, 1h} says noon; the circular mean says midnight, with
    * R ≈ 1 flagging strong concentration). R near 0 = uniform usage;
    * R near 1 = single daily peak — the telemetry behind load-shaped
    * scheduling and bot detection (bots burst at one clock hour).
    *
    * Exactness: the 24-cell hour census is exact integers; Σc·cosθ and
    * Σc·sinθ are exact decimal sums over the 9-dp literal grid above
    * (count × DECIMAL(12,9) products are exact); R and the mean hour
    * are one double chain, with atan2/sqrt wobble absorbed by the 6-dp
    * output rounding (q115's convention) and the negative-zero guard.
    *
    * Scale shape: one map-combinable agg to |types|×24 cells; every
    * later step runs on that census. */
  def q194CircadianProfile(spark: SparkSession, dir: String): DataFrame = {
    val census = Kpis.eventsTable(spark, dir)
      .groupBy(col("event_type"), hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
    val cosCol = (0 until 24).foldLeft(lit(null).cast("decimal(12,9)")) {
      (acc, h) => when(col("h") === h,
        lit(hourCos(h)).cast("decimal(12,9)")).otherwise(acc)
    }
    val sinCol = (0 until 24).foldLeft(lit(null).cast("decimal(12,9)")) {
      (acc, h) => when(col("h") === h,
        lit(hourSin(h)).cast("decimal(12,9)")).otherwise(acc)
    }
    census
      .select(col("event_type"), col("c"),
        (cosCol * col("c")).as("wc"), (sinCol * col("c")).as("ws"))
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n_events"),
        sum(col("wc")).cast("double").as("sc"),
        sum(col("ws")).cast("double").as("ss"))
      .select(col("event_type"), col("n_events"),
        (round(sqrt(col("sc") * col("sc") + col("ss") * col("ss")) /
          col("n_events").cast("double"), 6) + lit(0.0)).as("resultant_r"),
        (round(
          ((atan2(col("ss"), col("sc")) / lit(2.0 * math.Pi) + lit(1.0)) %
            lit(1.0)) * lit(24.0), 6) + lit(0.0)).as("mean_hour"))
      .orderBy("event_type")
  }

  val q194Sql: String = {
    def grid(vals: IndexedSeq[java.math.BigDecimal]): String =
      (0 until 24).map(h => s"WHEN $h THEN CAST(${vals(h).toPlainString} " +
        "AS DECIMAL(12,9))").mkString("CASE h ", " ", " END")
    s"""WITH census AS (
      |  SELECT event_type, CAST(EXTRACT(HOUR FROM ts) AS INTEGER) AS h,
      |    COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, c,
      |    (${grid(hourCos)}) * c AS wc,
      |    (${grid(hourSin)}) * c AS ws
      |  FROM census),
      |s AS (
      |  SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_events,
      |    CAST(SUM(wc) AS DOUBLE) AS sc, CAST(SUM(ws) AS DOUBLE) AS ss
      |  FROM w GROUP BY 1)
      |SELECT event_type, n_events,
      |  round(sqrt(sc * sc + ss * ss) / CAST(n_events AS DOUBLE), 6) + 0.0
      |    AS resultant_r,
      |  round(((atan2(ss, sc) / ${2.0 * math.Pi} + 1.0) % 1.0) * 24.0, 6)
      |    + 0.0 AS mean_hour
      |FROM s ORDER BY event_type""".stripMargin
  }

  // --------------------------------------------------------------- q200
  /** Bounce-rate census by session entry point: sessions (q34's 30-min
    * gap definition, identical spelling) grouped by their FIRST event's
    * type, with the share that never produced a second event — the
    * landing-page quality metric product teams steer by, and the
    * session-level complement of q86's user-level funnel: q86 asks "did
    * the user ever convert", this asks "how often does a session die on
    * arrival, and does it depend on how it started".
    *
    * Determinism: the session's first event is min(struct(ts, event_id,
    * event_type)) — a total order, so ties at the same microsecond
    * resolve identically in both engines.
    *
    * Exactness: all-integer census + one double division per row.
    * Scale shape: q34's one key-partitioned window, a session-grain
    * agg, then a ≤|event types| census. */
  def q200BounceRate(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sess = Kpis.eventsTable(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >
            GapMinutes * 60L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(struct(col("ts"), col("event_id"), col("event_type")))
          .getField("event_type").as("entry_type"))
    sess
      .groupBy(col("entry_type"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"))
      .select(col("entry_type"), col("n_sessions"), col("n_bounces"),
        (col("n_bounces").cast("double") / col("n_sessions").cast("double"))
          .as("bounce_rate"))
      .orderBy("entry_type")
  }

  val q200Sql: String =
    s"""WITH e AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_ts
      |  FROM events),
      |m AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL OR
      |      epoch_us(ts) - epoch_us(prev_ts) > ${GapMinutes * 60L * 1000000L}
      |    THEN 1 ELSE 0 END AS new_session
      |  FROM e),
      |s AS (
      |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
      |  FROM m),
      |sess AS (
      |  SELECT user_id, session_seq, COUNT(*) AS n_events,
      |    MIN(struct_pack(ts := ts, event_id := event_id,
      |                    event_type := event_type)).event_type AS entry_type
      |  FROM s GROUP BY 1, 2)
      |SELECT entry_type, COUNT(*) AS n_sessions,
      |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_bounces,
      |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(COUNT(*) AS DOUBLE) AS bounce_rate
      |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q214
  /** Stationary distribution of the event-type Markov chain: where does
    * a user's session settle in the long run? Transition probabilities
    * come from q103's per-user consecutive-event pairs; the stationary
    * vector is 12 power-iteration rounds from the uniform start — the
    * per-type long-run occupancy that tells capacity planning which
    * event handlers dominate steady-state load.
    *
    * Exactness: q80's iteration discipline — the probability matrix is
    * rounded into DECIMAL(14,12) once, and each round's mat-vec sums
    * exact decimals, casts the exact sum to double, rounds at 12 dp,
    * and re-narrows to DECIMAL(14,12) — so every iteration is
    * bit-replayable and the oracle unrolls the SAME twelve rounds as
    * generated CTEs.
    *
    * Scale shape: the fact collapses to the (cur, next) transition
    * census (per-user lead + hash agg); all twelve iterations join a
    * |types|-row vector against a |types|²-row matrix — census-scale
    * work after one fact pass, the q80 pattern with a bounded state
    * space. */
  def q214MarkovStationary(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val tr = Kpis.eventsTable(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
      .agg(count(lit(1)).as("cnt"))
    val tot = tr.groupBy(col("src")).agg(sum(col("cnt")).as("n_from"))
    val pm = tr.join(broadcast(tot), "src")
      .select(col("src"), col("dst"),
        round(col("cnt").cast("double") / col("n_from").cast("double"), 12)
          .cast("decimal(14,12)").as("prob"))
      .localCheckpoint(true)
    val states = pm.select(col("src").as("state")).distinct()
    val n = states.agg(count(lit(1)).as("n"))
    var pi = states.crossJoin(broadcast(n))
      .select(col("state"),
        round(lit(1.0) / col("n").cast("double"), 12)
          .cast("decimal(14,12)").as("pi"))
    for (_ <- 1 to 12) {
      pi = pi.join(pm, col("state") === col("src"))
        .groupBy(col("dst"))
        .agg(round(sum(col("pi") * col("prob")).cast("double"), 12)
          .cast("decimal(14,12)").as("pi"))
        .withColumnRenamed("dst", "state")
    }
    pi.select(col("state"),
        col("pi").cast("double").as("stationary_prob"))
      .orderBy("state")
  }

  val q214Sql: String = {
    val iters = (1 to 12).map { k =>
      s"""it$k AS (
         |  SELECT p.dst AS state,
         |    CAST(round(CAST(SUM(i.pi * p.prob) AS DOUBLE), 12)
         |      AS DECIMAL(14,12)) AS pi
         |  FROM it${k - 1} i JOIN pm p ON i.state = p.src GROUP BY 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH tr0 AS (
       |  SELECT event_type AS src,
       |    LEAD(event_type, 1) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id) AS dst
       |  FROM events),
       |tr AS (
       |  SELECT src, dst, COUNT(*) AS cnt
       |  FROM tr0 WHERE dst IS NOT NULL GROUP BY 1, 2),
       |tot AS (SELECT src, CAST(SUM(cnt) AS BIGINT) AS n_from
       |        FROM tr GROUP BY 1),
       |pm AS (
       |  SELECT tr.src, tr.dst,
       |    CAST(round(CAST(cnt AS DOUBLE) / CAST(n_from AS DOUBLE), 12)
       |      AS DECIMAL(14,12)) AS prob
       |  FROM tr JOIN tot ON tr.src = tot.src),
       |states AS (SELECT DISTINCT src AS state FROM pm),
       |nn AS (SELECT COUNT(*) AS n FROM states),
       |it0 AS (
       |  SELECT state,
       |    CAST(round(1.0 / CAST(n AS DOUBLE), 12) AS DECIMAL(14,12)) AS pi
       |  FROM states, nn),
       |$iters
       |SELECT state, CAST(pi AS DOUBLE) AS stationary_prob
       |FROM it12 ORDER BY state""".stripMargin
  }

  // --------------------------------------------------------------- q220
  /** Mean reciprocal rank of the first PURCHASE within each q34 gap
    * session: how deep into a session does conversion happen? MRR = 1
    * means sessions open with a purchase; 1/k means the k-th event;
    * sessions that never convert contribute 0 — so MRR blends
    * conversion RATE and conversion DEPTH into the single figure
    * ranking/search teams track. Complements q86 (did the funnel
    * complete) and q93 (wall-clock latency) with position.
    *
    * Exactness: the event's in-session position is an integer
    * row_number under the (ts, event_id) total order; each session's
    * reciprocal rank is rounded into DECIMAL(16,12) BEFORE the
    * cross-session sum (no multi-row double sum), and MRR is one double
    * division.
    *
    * Scale shape: q34's sessionization windows (partitioned by user,
    * never global), one per-session min, one map-combinable final agg. */
  def q220SessionMrr(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val e = Kpis.eventsTable(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >
            GapMinutes * 60L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bySession = Window.partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    val sess = e
      .withColumn("pos", row_number().over(bySession).cast("long"))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(when(col("event_type") === "purchase", col("pos")))
        .as("first_purchase"))
      .select(
        when(col("first_purchase").isNotNull, 1L).otherwise(0L)
          .as("converted"),
        coalesce(
          round(lit(1.0) / col("first_purchase").cast("double"), 12)
            .cast("decimal(16,12)"),
          lit(0).cast("decimal(16,12)")).as("rr"))
    sess.agg(
        count(lit(1)).as("n_sessions"),
        sum(col("converted")).as("n_converted"),
        sum(col("rr")).as("rr_sum"))
      .select(
        col("n_sessions"), col("n_converted"),
        (round(col("rr_sum").cast("double") /
          col("n_sessions").cast("double"), 6) + lit(0.0)).as("mrr"))
  }

  val q220Sql: String =
    s"""WITH e AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_ts
      |  FROM events),
      |m AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL
      |      OR epoch_us(ts) - epoch_us(prev_ts) > ${GapMinutes * 60L * 1000000L} THEN 1 ELSE 0 END AS new_session
      |  FROM e),
      |s AS (
      |  SELECT *, CAST(SUM(new_session) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS session_seq
      |  FROM m),
      |p AS (
      |  SELECT *, CAST(row_number() OVER (
      |    PARTITION BY user_id, session_seq ORDER BY ts, event_id)
      |    AS BIGINT) AS pos
      |  FROM s),
      |sess AS (
      |  SELECT user_id, session_seq,
      |    MIN(CASE WHEN event_type = 'purchase' THEN pos END)
      |      AS first_purchase
      |  FROM p GROUP BY 1, 2),
      |rr AS (
      |  SELECT CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END
      |      AS converted,
      |    COALESCE(CAST(round(1.0 / CAST(first_purchase AS DOUBLE), 12)
      |      AS DECIMAL(16,12)), CAST(0 AS DECIMAL(16,12))) AS rr
      |  FROM sess)
      |SELECT COUNT(*) AS n_sessions,
      |  CAST(SUM(converted) AS BIGINT) AS n_converted,
      |  round(CAST(SUM(rr) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) + 0.0
      |    AS mrr
      |FROM rr""".stripMargin

  // --------------------------------------------------------------- q279
  /** Event-type co-occurrence lift within user-days: for every pair of
    * event types, lift = N·n_ab/(n_a·n_b) over the user-day universe
    * (N user-days; n_a days containing type a; n_ab containing both).
    * The SET-based association q103's transition matrix can't see:
    * transitions only count ADJACENT steps, so "users who error
    * eventually purchase the same day" never shows up there — lift > 1
    * here is the signal behind "these behaviors cluster in the same
    * visits", the basis for feature crosses and triggered campaigns.
    *
    * Exactness: the (user, day, type) distinct census and all pair
    * counts are exact integers; lift is one double chain, 6-dp-rounded;
    * the pair ordering is total (type_a < type_b lexicographically).
    *
    * Scale shape: one distinct agg to the user-day-type census (≤
    * |user-days|·|types|); the pair self-join is keyed on (user, day) —
    * per-key fan-out bounded by |types|² = 25; marginals join
    * broadcast-size type censuses. No window. */
  def q279CooccurrenceLift(spark: SparkSession, dir: String): DataFrame = {
    val udt = Kpis.eventsTable(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type"))
      .distinct()
    val nDays = udt.select(col("user_id"), col("day")).distinct().count()
    val perType = udt.groupBy(col("event_type").as("t"))
      .agg(count(lit(1)).as("n_t"))
    val a = udt.select(col("user_id"), col("day"),
      col("event_type").as("type_a"))
    val b = udt.select(col("user_id"), col("day"),
      col("event_type").as("type_b"))
    a.join(b, Seq("user_id", "day"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(perType.select(col("t").as("type_a"),
        col("n_t").as("n_a"))), "type_a")
      .join(broadcast(perType.select(col("t").as("type_b"),
        col("n_t").as("n_b"))), "type_b")
      .select(col("type_a"), col("type_b"), col("n_both"),
        (round(lit(nDays).cast("double") * col("n_both").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6)
          + lit(0.0)).as("lift"))
      .orderBy("type_a", "type_b")
  }

  val q279Sql: String =
    """WITH udt AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
      |  FROM events),
      |nd AS (
      |  SELECT COUNT(*) AS n_days
      |  FROM (SELECT DISTINCT user_id, day FROM udt)),
      |pt AS (SELECT event_type AS t, COUNT(*) AS n_t FROM udt GROUP BY 1),
      |pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    COUNT(*) AS n_both
      |  FROM udt a JOIN udt b
      |    ON a.user_id = b.user_id AND a.day = b.day
      |  WHERE a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, n_both,
      |  round(CAST(n_days AS DOUBLE) * CAST(n_both AS DOUBLE) /
      |    (CAST(pa.n_t AS DOUBLE) * CAST(pb.n_t AS DOUBLE)), 6) + 0.0
      |    AS lift
      |FROM pairs, nd
      |JOIN pt pa ON pa.t = type_a
      |JOIN pt pb ON pb.t = type_b
      |ORDER BY type_a, type_b""".stripMargin

  // --------------------------------------------------------------- q287
  /** Behavioral diversity by activity tier: each user's event-type
    * entropy (nats over their own type mix), averaged within
    * light/mid/heavy activity buckets (<10 / <100 / ≥100 events). The
    * user-level companion to q259's chain entropy: q259 says how
    * predictable the NEXT event is corpus-wide; this says how
    * specialized individual USERS are — heavy users converging to low
    * entropy are power users in one feature (monetize it), heavy users
    * at high entropy are explorers (cross-sell to them); and a
    * light-bucket entropy near ln|types| is the bot-traffic smell.
    *
    * Exactness: per-user type counts are exact; each user's entropy is
    * the q137 count-weighted ln9 grid closed by one double division,
    * snapped to DECIMAL(12,9) so bucket averages are exact decimal
    * sums; bucket cuts are integer comparisons.
    *
    * Scale shape: one (user, type) map-combinable agg, a per-user
    * window bounded by |types|, one user-level agg, a 3-row census. */
  def q287BehavioralEntropy(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactMath.ln9
    val perType = Kpis.eventsTable(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("user_id"))))
    val perUser = perType
      .select(col("user_id"), col("n"),
        (ln9(col("n").cast("double") / col("c").cast("double")) * col("c"))
          .as("hw"))
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n_events"),
        round(sum(col("hw")).cast("double") / max(col("n")).cast("double"),
          9).cast("decimal(12,9)").as("h"))
    val bucket = when(col("n_events") < 10, "1_light")
      .when(col("n_events") < 100, "2_mid")
      .otherwise("3_heavy")
    perUser.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n_users"),
        (round(sum(col("h")).cast("double") /
          count(lit(1)).cast("double"), 6) + lit(0.0))
          .as("avg_entropy_nats"),
        max(col("h")).cast("double").as("max_entropy_nats"))
      .orderBy("bucket")
  }

  val q287Sql: String =
    """WITH pt AS (
      |  SELECT user_id, event_type, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT user_id, c,
      |    SUM(c) OVER (PARTITION BY user_id) AS n
      |  FROM pt),
      |pu AS (
      |  SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_events,
      |    CAST(round(CAST(SUM(CAST(round(ln(CAST(n AS DOUBLE) /
      |          CAST(c AS DOUBLE)), 9) AS DECIMAL(12,9)) * c) AS DOUBLE)
      |        / CAST(MAX(n) AS DOUBLE), 9) AS DECIMAL(12,9)) AS h
      |  FROM m GROUP BY 1),
      |b AS (
      |  SELECT CASE WHEN n_events < 10 THEN '1_light'
      |    WHEN n_events < 100 THEN '2_mid' ELSE '3_heavy' END AS bucket,
      |    h
      |  FROM pu)
      |SELECT bucket, COUNT(*) AS n_users,
      |  round(CAST(SUM(h) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) + 0.0
      |    AS avg_entropy_nats,
      |  CAST(MAX(h) AS DOUBLE) AS max_entropy_nats
      |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin

  // --------------------------------------------------------------- q292
  /** Longest daily-activity streak per user (the classic gaps-and-islands
    * shape), emitted as a census: for each streak length L, how many
    * users' LONGEST run of consecutive active days is exactly L. The
    * island key is the textbook row_number trick — day − row_number() is
    * constant exactly within a run of consecutive dates — which turns
    * streak detection into one partitioned window plus one aggregate, no
    * self-join and no iteration.
    *
    * Scale shape: one shuffle to distinct (user, day), one per-USER
    * window (partitioned — never global), two map-combinable aggs, and a
    * final ≤|max streak| census. All-integer/date arithmetic; bit-exact. */
  def q292ActivityStreaks(spark: SparkSession, dir: String): DataFrame = {
    val days = Kpis.eventsTable(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val wu = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val streaks = days
      .withColumn("grp", date_sub(col("d"), row_number().over(wu)))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
    streaks.groupBy(col("user_id"))
      .agg(max(col("len")).as("longest_streak"))
      .groupBy(col("longest_streak"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("longest_streak"))
  }

  val q292Sql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |g AS (
      |  SELECT user_id, d,
      |    d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
      |      AS INTEGER) AS grp
      |  FROM days),
      |s AS (SELECT user_id, grp, COUNT(*) AS len FROM g GROUP BY 1, 2),
      |l AS (SELECT user_id, MAX(len) AS longest_streak FROM s GROUP BY 1)
      |SELECT longest_streak, COUNT(*) AS n_users
      |FROM l GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q312
  /** Markov removal-effect attribution — the data-driven alternative to
    * first/last-touch credit (q75 pairs, q220 MRR): model user journeys
    * as a Markov chain (START → events → EXIT, 'purchase' absorbing),
    * compute the 8-step-bounded absorption probability P(reach purchase)
    * by decimal value iteration, then for each channel rebuild the
    * chain with that channel REMOVED (its state contributes zero value)
    * and credit the channel with the conversion mass that disappears:
    * removal_effect = (P − P₋c)/P, normalized to attribution shares.
    * The q214 machinery (transition census + 12-dp-snapped decimal
    * iteration) re-aimed from stationary mass at absorption value.
    *
    * The 8-step horizon is a DEFINED metric, not an approximation
    * compromise: both engines iterate the identical snapped lattice, so
    * parity is exact at any K, and removal effects compare chains under
    * the same horizon. Removal can only destroy value (forcing a
    * state's value to 0 is monotone), so effects are nonnegative.
    *
    * Exactness: transition probs and iterates live on the 12-dp decimal
    * grid (q214's convention); removal effects snap to 9 dp before the
    * exact-decimal normalization sum; shares are single divisions.
    *
    * Scale shape: one partitioned lead() pass to the transition census
    * (|types|² + START/EXIT rows), then all iteration happens on the
    * ≤6-state census via broadcast joins — 5 chains × 8 steps of
    * census-sized work. */
  def q312MarkovAttribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ev = Kpis.eventsTable(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
    val tr = ev.select(col("event_type").as("src"),
        coalesce(col("next_type"), lit("EXIT")).as("dst"))
      .unionByName(ev.filter(col("rn") === 1)
        .select(lit("START").as("src"), col("event_type").as("dst")))
      .filter(col("src") =!= "purchase") // absorbing
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
    val tot = tr.groupBy(col("src")).agg(sum(col("cnt")).as("n_from"))
    // pm/states are METADATA-SCALE BY CONSTRUCTION (≤ |event_type
    // domain|² transition rows at any data scale), but checkpointed off
    // a CPU-count shuffle they carried defaultParallelism partitions —
    // every one of the 40 value-iteration rounds below then re-paid
    // CPU-count task scheduling on ≤ 49 rows, which is why this query
    // ANTI-scaled with cores (r17 scaling block: c8/c32 = 0.67). One
    // partition is the right layout for a domain-bounded frame at ANY
    // scale; the data-scale work (the events window) is untouched.
    val pm = tr.join(broadcast(tot), "src")
      .select(col("src"), col("dst"),
        round(col("cnt").cast("double") / col("n_from").cast("double"), 12)
          .cast("decimal(14,12)").as("prob"))
      .repartition(1)
      .localCheckpoint(true)
    val states = pm.select(col("src").as("state")).distinct()
      .repartition(1)
      .localCheckpoint(true)
    val zero = lit(0).cast("decimal(14,12)")
    def absorbedValue(removed: Option[String]): DataFrame = {
      var v = states.select(col("state"), zero.as("v"))
      for (_ <- 1 to 8) {
        val dstVal = when(col("dst") === "purchase",
            lit(1).cast("decimal(14,12)"))
          .when(col("dst") === "EXIT", zero)
          .when(removed.map(col("dst") === _).getOrElse(lit(false)), zero)
          .otherwise(coalesce(col("v"), zero))
        // v is ≤ |states| rows — broadcast it so each round is a
        // map-side hash join over pm's one partition instead of a
        // sort-merge join with two CPU-count exchanges (the stats of a
        // checkpointed frame are opaque, so the planner never chose
        // broadcast by itself)
        v = pm.join(broadcast(v), col("dst") === col("state"), "left")
          .select(col("src"), (col("prob") * dstVal).as("pv"))
          .groupBy(col("src"))
          .agg(round(sum(col("pv")).cast("double"), 12)
            .cast("decimal(14,12)").as("v0"))
          .select(col("src").as("state"),
            when(removed.map(col("src") === _).getOrElse(lit(false)), zero)
              .otherwise(col("v0")).as("v"))
      }
      v.filter(col("state") === "START")
        .select(col("v").cast("double").as("p"))
    }
    val pFull = absorbedValue(None).select(col("p").as("p_full"))
    val channels = Seq("click", "error", "signup", "view")
    val perChannel = channels.map { c =>
      absorbedValue(Some(c))
        .select(lit(c).as("channel"), col("p").as("p_removed"))
    }.reduce(_ unionByName _)
    val effects = perChannel.crossJoin(broadcast(pFull))
      .withColumn("removal_effect",
        round((col("p_full") - col("p_removed")) / col("p_full"), 9)
          .cast("decimal(12,9)"))
    val totEff = effects.agg(sum(col("removal_effect")).as("te"))
    effects.crossJoin(broadcast(totEff))
      .select(col("channel"), col("p_full"), col("p_removed"),
        col("removal_effect").cast("double").as("removal_effect"),
        (col("removal_effect").cast("double") / col("te").cast("double"))
          .as("attribution_share"))
      .orderBy("channel")
  }

  val q312Sql: String = {
    def chain(tag: String, removed: Option[String]): String = {
      val remDst = removed
        .map(c => s"WHEN p.dst = '$c' THEN CAST(0 AS DECIMAL(14,12))\n         |      ")
        .getOrElse("")
      val remSrc = (body: String) => removed match {
        case Some(c) =>
          s"CASE WHEN p.src = '$c' THEN CAST(0 AS DECIMAL(14,12)) " +
            s"ELSE $body END"
        case None => body
      }
      val steps = (1 to 8).map { k =>
        s"""v${k}_$tag AS (
           |  SELECT p.src AS state,
           |    ${remSrc(s"""CAST(round(CAST(SUM(p.prob *
           |      CASE WHEN p.dst = 'purchase' THEN CAST(1 AS DECIMAL(14,12))
           |      WHEN p.dst = 'EXIT' THEN CAST(0 AS DECIMAL(14,12))
           |      $remDst ELSE COALESCE(i.v, CAST(0 AS DECIMAL(14,12)))
           |      END) AS DOUBLE), 12) AS DECIMAL(14,12))""")} AS v
           |  FROM pm p LEFT JOIN v${k - 1}_$tag i ON p.dst = i.state
           |  GROUP BY p.src)""".stripMargin
      }.mkString(",\n")
      s"""v0_$tag AS (
         |  SELECT DISTINCT src AS state, CAST(0 AS DECIMAL(14,12)) AS v
         |  FROM pm),
         |$steps,
         |p_$tag AS (
         |  SELECT CAST(v AS DOUBLE) AS p FROM v8_$tag
         |  WHERE state = 'START')""".stripMargin
    }
    val channels = Seq("click", "error", "signup", "view")
    val chains = (chain("full", None) +: channels.map(c =>
      chain(c, Some(c)))).mkString(",\n")
    val unioned = channels.map { c =>
      s"""SELECT '$c' AS channel, (SELECT p FROM p_full) AS p_full,
         |  (SELECT p FROM p_$c) AS p_removed""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH seq AS (
      |  SELECT user_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS rn,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |tr AS (
      |  SELECT src, dst, COUNT(*) AS cnt FROM (
      |    SELECT event_type AS src, COALESCE(next_type, 'EXIT') AS dst
      |    FROM seq
      |    UNION ALL
      |    SELECT 'START', event_type FROM seq WHERE rn = 1)
      |  WHERE src <> 'purchase' GROUP BY 1, 2),
      |tot AS (SELECT src, SUM(cnt) AS n_from FROM tr GROUP BY 1),
      |pm AS (
      |  SELECT tr.src, tr.dst,
      |    CAST(round(CAST(cnt AS DOUBLE) / CAST(n_from AS DOUBLE), 12)
      |      AS DECIMAL(14,12)) AS prob
      |  FROM tr JOIN tot ON tr.src = tot.src),
      |$chains,
      |eff AS (
      |  SELECT channel, p_full, p_removed,
      |    CAST(round((p_full - p_removed) / p_full, 9) AS DECIMAL(12,9))
      |      AS re
      |  FROM ($unioned)),
      |te AS (SELECT SUM(re) AS te FROM eff)
      |SELECT channel, p_full, p_removed,
      |  CAST(re AS DOUBLE) AS removal_effect,
      |  CAST(re AS DOUBLE) / CAST(te.te AS DOUBLE) AS attribution_share
      |FROM eff, te ORDER BY channel""".stripMargin
  }

  // --------------------------------------------------------------- q334
  /** Frequent session-opening paths: the top-20 length-≤3 event-type
    * PREFIXES across q34's sessions — the path-mining census behind
    * "how do sessions start?" (landing flows, onboarding funnels).
    * q214/q312 model TRANSITIONS (memoryless, pairwise); this reads
    * actual ordered prefixes, which is what a UX review and a
    * next-event-model's context window both consume.
    *
    * Exactness: session assignment is q34's integer-microsecond gap
    * rule; the three prefix slots are conditional aggregates over the
    * deterministic (ts, event_id) rank; concat_ws skips NULL slots
    * identically in both engines; share is one 6-dp division.
    *
    * Scale shape: the two per-user windows (sessionize + rank) are
    * q34's partitioned shape; prefix rows collapse to one per session,
    * then a path census; top-20 lowers to TakeOrderedAndProject. */
  def q334SessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val e = Kpis.eventsTable(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >
            GapMinutes * 60L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bySession = Window
      .partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    val prefixes = e
      .withColumn("rn", row_number().over(bySession))
      .filter(col("rn") <= 3)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        max(when(col("rn") === 1, col("event_type"))).as("p1"),
        max(when(col("rn") === 2, col("event_type"))).as("p2"),
        max(when(col("rn") === 3, col("event_type"))).as("p3"))
      .select(concat_ws(">", col("p1"), col("p2"), col("p3")).as("path"),
        (lit(1) + when(col("p2").isNotNull, 1).otherwise(0) +
          when(col("p3").isNotNull, 1).otherwise(0)).as("depth"))
    val tot = prefixes.agg(count(lit(1)).as("n_total"))
    prefixes.groupBy(col("path"), col("depth"))
      .agg(count(lit(1)).as("n_sessions"))
      .crossJoin(broadcast(tot))
      .select(col("path"), col("depth"), col("n_sessions"),
        (round(col("n_sessions").cast("double") /
          col("n_total").cast("double"), 6) + lit(0.0)).as("share"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  val q334Sql: String =
    s"""WITH e AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_ts
      |  FROM events),
      |m AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL
      |      OR epoch_us(ts) - epoch_us(prev_ts) >
      |        ${GapMinutes * 60L * 1000000L} THEN 1 ELSE 0 END
      |    AS new_session
      |  FROM e),
      |s AS (
      |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS session_seq
      |  FROM m),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (
      |      PARTITION BY user_id, session_seq ORDER BY ts, event_id)
      |    AS rn
      |  FROM s),
      |pfx AS (
      |  SELECT user_id, session_seq,
      |    MAX(CASE WHEN rn = 1 THEN event_type END) AS p1,
      |    MAX(CASE WHEN rn = 2 THEN event_type END) AS p2,
      |    MAX(CASE WHEN rn = 3 THEN event_type END) AS p3
      |  FROM r WHERE rn <= 3 GROUP BY 1, 2),
      |paths AS (
      |  SELECT concat_ws('>', p1, p2, p3) AS path,
      |    1 + CASE WHEN p2 IS NOT NULL THEN 1 ELSE 0 END
      |      + CASE WHEN p3 IS NOT NULL THEN 1 ELSE 0 END AS depth
      |  FROM pfx),
      |tot AS (SELECT COUNT(*) AS n_total FROM paths)
      |SELECT path, depth, COUNT(*) AS n_sessions,
      |  round(CAST(COUNT(*) AS DOUBLE) / CAST(MAX(n_total) AS DOUBLE), 6)
      |    + 0.0 AS share
      |FROM paths CROSS JOIN tot
      |GROUP BY path, depth
      |ORDER BY n_sessions DESC, path
      |LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q348
  /** Shapley-value channel attribution — the coalition-game companion
    * to q312's Markov removal effects (the two data-driven attribution
    * models every marketing stack compares): each converting user's
    * pre-purchase journey contributes to the characteristic function
    * v(S) = conversions whose touched-channel set ⊆ S, and channel i's
    * credit is φᵢ = Σ_{S∌i} w(|S|)·(v(S∪{i}) − v(S)) with the exact
    * Shapley weights w(s) = s!(n−1−s)!/n! over the n = 4 non-purchase
    * channels. Emits per channel: φ, the normalized share, and the two
    * marginal-contribution extremes (solo value v({i}) and full-game
    * removal v(C) − v(C∖{i})) that bracket it.
    *
    * Exactness: journeys collapse to a 16-cell touched-set census
    * (bitmask over 4 channels); v(S) is an integer subset-sum; the
    * weights are 9-dp DECIMAL LITERALS (¼ exact, 1/12 snapped — the
    * q296 grid discipline); each φ is an exact decimal sum of
    * weight×integer products; shares are single double divisions.
    *
    * Scale shape: one partitioned min-purchase-time pass + one per-user
    * agg collapse the event stream to the 16-row census; every
    * coalition/Shapley step is broadcast arithmetic on ≤16×16 rows —
    * constant work regardless of corpus size. */
  def q348ShapleyAttribution(spark: SparkSession, dir: String): DataFrame = {
    val channels = Seq("click" -> 1, "error" -> 2, "signup" -> 4,
      "view" -> 8)
    val ev = Kpis.eventsTable(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val wU = Window.partitionBy(col("user_id"))
    val firstPurchase = min(when(col("event_type") === "purchase",
      struct(col("ts"), col("event_id")))).over(wU)
    // touched-channel bitmask per CONVERTING user, over events strictly
    // before the first purchase (ts, event_id order — q312's journey key)
    val pre = col("ts") < col("fp.ts") ||
      (col("ts") === col("fp.ts") && col("event_id") < col("fp.event_id"))
    val maskExpr = channels.map { case (c, b) =>
      max(when(pre && col("event_type") === c, lit(b)).otherwise(lit(0)))
    }.reduce(_ + _)
    val census = ev
      .withColumn("fp", firstPurchase)
      .filter(col("fp").isNotNull)
      .groupBy(col("user_id")).agg(maskExpr.as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("conv"))
    // v(S) for all 16 coalitions: subset-sum over the census
    val coalitions = spark.range(16)
      .select(col("id").cast("int").as("s"))
    val vTbl = coalitions.join(broadcast(census),
        census("mask").bitwiseAND(col("s")) === census("mask"), "left")
      .groupBy(col("s")).agg(coalesce(sum(col("conv")), lit(0L)).as("v"))
      .localCheckpoint(true)
    // Shapley: phi_i = sum over S not containing i of w(|S|)(v(S+i)-v(S))
    import spark.implicits._
    val chTbl = channels.toDF("channel", "bit")
    val popcnt = (col("s").bitwiseAND(lit(1))) +
      shiftright(col("s").bitwiseAND(lit(2)), 1) +
      shiftright(col("s").bitwiseAND(lit(4)), 2) +
      shiftright(col("s").bitwiseAND(lit(8)), 3)
    val wLit = when(popcnt === 0, lit("0.250000000"))
      .when(popcnt === 3, lit("0.250000000"))
      .otherwise(lit("0.083333333")).cast("decimal(12,9)")
    val terms = chTbl.join(broadcast(coalitions),
        col("s").bitwiseAND(col("bit")) === 0)
      .join(broadcast(vTbl.select(col("s").as("s0"), col("v").as("v_s"))),
        col("s0") === col("s"))
      .join(broadcast(vTbl.select(col("s").as("s1"), col("v").as("v_si"))),
        col("s1") === col("s").bitwiseOR(col("bit")))
      .withColumn("term",
        (wLit * (col("v_si") - col("v_s")).cast("decimal(12,0)"))
          .cast("decimal(26,9)"))
    val phi = terms.groupBy(col("channel"), col("bit"))
      .agg(sum(col("term")).cast("decimal(36,9)").as("phi"))
    val solo = vTbl.select(col("s").as("bit_solo"), col("v").as("v_solo"))
    val full = vTbl.filter(col("s") === 15)
      .select(col("v").as("v_full"))
    val without = vTbl.select(col("s").as("s_wo"), col("v").as("v_without"))
    val totPhi = phi.agg(sum(col("phi")).as("phi_total"))
    phi
      .join(broadcast(solo), col("bit_solo") === col("bit"))
      .join(broadcast(without), col("s_wo") === (lit(15) - col("bit")))
      .crossJoin(broadcast(full))
      .crossJoin(broadcast(totPhi))
      .select(col("channel"),
        col("phi").cast("double").as("shapley_value"),
        (col("phi").cast("double") / col("phi_total").cast("double"))
          .as("share"),
        col("v_solo"),
        (col("v_full") - col("v_without")).as("full_removal"),
        col("v_full").as("conversions"))
      .orderBy("channel")
  }

  val q348Sql: String =
    """WITH ev AS (
      |  SELECT user_id, ts, event_id, event_type FROM events),
      |fp AS (
      |  SELECT user_id, ts AS fts, event_id AS fid FROM (
      |    SELECT user_id, ts, event_id,
      |      ROW_NUMBER() OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id) AS rn
      |    FROM ev WHERE event_type = 'purchase')
      |  WHERE rn = 1),
      |masks AS (
      |  SELECT e.user_id,
      |    MAX(CASE WHEN e.event_type = 'click' AND (e.ts < f.fts OR
      |      (e.ts = f.fts AND e.event_id < f.fid)) THEN 1 ELSE 0 END) +
      |    MAX(CASE WHEN e.event_type = 'error' AND (e.ts < f.fts OR
      |      (e.ts = f.fts AND e.event_id < f.fid)) THEN 2 ELSE 0 END) +
      |    MAX(CASE WHEN e.event_type = 'signup' AND (e.ts < f.fts OR
      |      (e.ts = f.fts AND e.event_id < f.fid)) THEN 4 ELSE 0 END) +
      |    MAX(CASE WHEN e.event_type = 'view' AND (e.ts < f.fts OR
      |      (e.ts = f.fts AND e.event_id < f.fid)) THEN 8 ELSE 0 END)
      |      AS mask
      |  FROM ev e JOIN fp f ON e.user_id = f.user_id
      |  GROUP BY e.user_id),
      |census AS (SELECT mask, COUNT(*) AS conv FROM masks GROUP BY 1),
      |coal AS (SELECT CAST(range AS INTEGER) AS s FROM range(16)),
      |vt AS (
      |  SELECT s, CAST(COALESCE(SUM(conv), 0) AS BIGINT) AS v
      |  FROM coal LEFT JOIN census ON (census.mask & coal.s) = census.mask
      |  GROUP BY s),
      |ch(channel, bit) AS (VALUES
      |  ('click', 1), ('error', 2), ('signup', 4), ('view', 8)),
      |terms AS (
      |  SELECT ch.channel, ch.bit,
      |    CAST(
      |      CASE WHEN ((coal.s & 1) + ((coal.s & 2) >> 1)
      |                 + ((coal.s & 4) >> 2) + ((coal.s & 8) >> 3))
      |        IN (0, 3)
      |        THEN CAST(0.250000000 AS DECIMAL(12,9))
      |        ELSE CAST(0.083333333 AS DECIMAL(12,9)) END
      |      * CAST(v1.v - v0.v AS DECIMAL(12,0)) AS DECIMAL(26,9))
      |      AS term
      |  FROM ch JOIN coal ON (coal.s & ch.bit) = 0
      |  JOIN vt v0 ON v0.s = coal.s
      |  JOIN vt v1 ON v1.s = (coal.s | ch.bit)),
      |phi AS (
      |  SELECT channel, bit,
      |    CAST(SUM(term) AS DECIMAL(36,9)) AS phi
      |  FROM terms GROUP BY 1, 2),
      |tot AS (SELECT CAST(SUM(phi) AS DECIMAL(38,9)) AS phi_total FROM phi),
      |fullv AS (SELECT v AS v_full FROM vt WHERE s = 15)
      |SELECT p.channel,
      |  CAST(p.phi AS DOUBLE) AS shapley_value,
      |  CAST(p.phi AS DOUBLE) / CAST(t.phi_total AS DOUBLE) AS share,
      |  sv.v AS v_solo,
      |  f.v_full - wo.v AS full_removal,
      |  f.v_full AS conversions
      |FROM phi p
      |JOIN vt sv ON sv.s = p.bit
      |JOIN vt wo ON wo.s = (15 - p.bit)
      |CROSS JOIN fullv f CROSS JOIN tot t
      |ORDER BY p.channel""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q348_shapley_attribution", q348ShapleyAttribution _, q348Sql),
    Query("q334_session_paths", q334SessionPaths _, q334Sql),
    Query("q312_markov_attribution", q312MarkovAttribution _, q312Sql),
    Query("q292_activity_streaks", q292ActivityStreaks _, q292Sql),
    Query("q287_behavioral_entropy", q287BehavioralEntropy _, q287Sql),
    Query("q279_cooccurrence_lift", q279CooccurrenceLift _, q279Sql),
    Query("q220_session_mrr", q220SessionMrr _, q220Sql),
    Query("q214_markov_stationary", q214MarkovStationary _, q214Sql),
    Query("q34_sessions", q34Sessions _, q34Sql),
    Query("q377_gap_calibration", q377GapCalibration _, q377Sql),
    Query("q382_watermark_calibration", q382WatermarkCalibration _, q382Sql),
    Query("q388_stream_state_budget", q388StreamStateBudget _, q388Sql),
    Query("q128_event_3paths", q128Event3Paths _, q128Sql),
    Query("q131_peak_concurrency", q131PeakConcurrency _, q131Sql),
    Query("q182_interarrival_fit", q182InterarrivalFit _, q182Sql),
    Query("q194_circadian_profile", q194CircadianProfile _, q194Sql),
    Query("q200_bounce_rate", q200BounceRate _, q200Sql))
}
