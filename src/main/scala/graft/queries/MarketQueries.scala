package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query

/** Market-style temporal aggregates over the event stream: OHLC bars,
  * time-weighted averages, and RFM behavioral segmentation — the three
  * shapes where WHICH row wins inside a group (first/last/weighted)
  * matters as much as the aggregate itself.
  */
object MarketQueries {

  // --------------------------------------------------------------- q135
  /** Hourly OHLC bars over event values: open/close are the first/last
    * value by (ts, event_id) — the unique composite makes the pick
    * deterministic — high/low/count are plain extremes.
    *
    * Scale shape: open and close come from `min_by`/`max_by` keyed on
    * the (ts, event_id) struct, so the WHOLE query is one two-phase
    * aggregate with map-side partials (struct-typed buffers land it in
    * SortAggregate rather than hash — still partial-combine before the
    * one exchange) and no second pass over the data. (The oracle uses
    * ROW_NUMBER windows instead: arg-extremes via windows is the
    * formulation that does NOT scale — partial aggregation can't see
    * through a rank.) Raw doubles pass through untouched: hash-safe. */
  def q135OhlcHourly(spark: SparkSession, dir: String): DataFrame = {
    // the aggregation itself is shared with the streaming twin
    // (OhlcStream.barAggs) — one definition, two drivers
    val aggs = graft.streaming.OhlcStream
      .barAggs(struct(col("ts"), col("event_id")))
    Kpis.eventsTable(spark, dir)
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("bar_hour"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("bar_hour")
  }

  val q135Sql: String =
    """WITH ranked AS (
      |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
      |      AS bar_hour, value,
      |    ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
      |                       ORDER BY ts, event_id) AS rn_a,
      |    ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
      |                       ORDER BY ts DESC, event_id DESC) AS rn_d
      |  FROM events)
      |SELECT bar_hour,
      |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
      |  MAX(value) AS high, MIN(value) AS low,
      |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
      |  COUNT(*) AS n_events
      |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q136
  /** Per-user time-weighted average value: each reading holds until the
    * user's next event; TWAP = Σ(value·Δt) / Σ(Δt) with microsecond
    * intervals. A user's last event has no successor and contributes no
    * interval (standard step-function TWAP over the observed span).
    *
    * Exactness: value is ≤4 dp (exact DECIMAL(18,4)), Δt_µs is a long,
    * so every product and both sums are exact decimal/integer
    * arithmetic; the single closing division is one double op on
    * identical operands in both engines.
    *
    * Scale shape: the lead() window partitions BY USER — thousands of
    * small independent per-key sorts that scale out with the key count,
    * nothing global — then one map-combinable hash agg on the same key,
    * which AQE coalesces with the window's shuffle. Users with one
    * event drop (no intervals): the n_intervals floor documents it. */
  def q136TwapValue(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Kpis.eventsTable(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").cast("decimal(18,4)").as("v"))
      .withColumn("dur_us",
        lead(unix_micros(col("ts")), 1).over(w) - unix_micros(col("ts")))
      .filter(col("dur_us").isNotNull)
      .groupBy(col("user_id"))
      // the weighted decimal sum exceeds 2^53 in scaled-integer units
      // (µs weights), where DuckDB's two-step decimal→double cast can be
      // 1 ulp off Java's exact conversion — q59's round-and-settle
      // convention absorbs it
      .agg(
        (round(sum(col("v") * col("dur_us")).cast("double") /
          sum(col("dur_us")).cast("double"), 6) + lit(0.0)).as("twap"),
        sum(col("dur_us")).as("span_us"),
        count(lit(1)).as("n_intervals"))
      .orderBy("user_id")
  }

  val q136Sql: String =
    """WITH spans AS (
      |  SELECT user_id, CAST(value AS DECIMAL(18,4)) AS v,
      |    LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
      |                             ORDER BY ts, event_id)
      |      - epoch_us(ts) AS dur_us
      |  FROM events)
      |SELECT user_id,
      |  round(CAST(SUM(v * dur_us) AS DOUBLE)
      |        / CAST(SUM(dur_us) AS DOUBLE), 6) + 0.0 AS twap,
      |  CAST(SUM(dur_us) AS BIGINT) AS span_us, COUNT(*) AS n_intervals
      |FROM spans WHERE dur_us IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q139
  /** RFM segmentation: per ordering customer, recency (days from last
    * order to the corpus max date), frequency (order count), monetary
    * (exact decimal spend); each dimension is scored into quintiles and
    * the output is the (r, f, m) cell census with its exact spend.
    *
    * Determinism: every ntile orders by a TOTAL key — the metric plus
    * c_custkey — because quintile boundaries on a tied metric are
    * otherwise implementation-defined. Recency scoring orders by
    * last_order ASC (most-stale first, score 5 = most recent, matching
    * f/m where 5 = highest): days-since-max DESC is the same total
    * order, so the corpus-max anchor never needs computing.
    *
    * Scale shape (re-registered round 12, VERDICT r11 #6): the
    * per-customer rollup is a map-combinable hash agg on o_custkey; the
    * three quintiles run on [[graft.operators.RangeRank.withNtile]] —
    * range shuffle + partitioned local ranks + broadcast offsets, exact
    * SQL NTILE semantics with no single-partition window — so the plan
    * holds even when the entity table outgrows one partition (the old
    * chokepoint; q117's sketch remains the approximate alternative).
    * Final census ≤125 rows. */
  def q139RfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Kpis.table(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      // DATE grain before max, like q145/q146: the oracle ranks DATE
      // last-orders, and ranking raw timestamps would tie-break by
      // time-of-day instead of custkey if intra-day order times ever ship
      .agg(max(to_date(col("o_orderdate"))).as("last_order"),
        count(lit(1)).as("freq"),
        sum(col("o_totalprice").cast("decimal(18,4)")).as("monetary"))
    // round 12 (VERDICT r11 #6): the three quintiles run on the
    // range-partitioned exact-NTILE operator — bit-identical to the
    // single-ORDER-BY-window form the oracle still spells, but each pass
    // is a parallel range shuffle + partitioned window, so the plan
    // survives an entity table that outgrows one partition.
    val scored = Seq[(String, Seq[org.apache.spark.sql.Column])](
      ("r_score", Seq(col("last_order"), col("o_custkey"))),
      ("f_score", Seq(col("freq"), col("o_custkey"))),
      ("m_score", Seq(col("monetary"), col("o_custkey"))))
      .foldLeft(perCust) { case (df, (name, keys)) =>
        graft.operators.RangeRank.withNtile(df, name, 5, keys)
      }
    scored
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("monetary")).cast("double").as("segment_spend"))
      .orderBy("r_score", "f_score", "m_score")
  }

  val q139Sql: String =
    """WITH per_cust AS (
      |  SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_order,
      |    COUNT(*) AS freq,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS monetary
      |  FROM orders GROUP BY 1),
      |scored AS (
      |  SELECT o_custkey, monetary,
      |    NTILE(5) OVER (ORDER BY last_order, o_custkey) AS r_score,
      |    NTILE(5) OVER (ORDER BY freq, o_custkey) AS f_score,
      |    NTILE(5) OVER (ORDER BY monetary, o_custkey) AS m_score
      |  FROM per_cust)
      |SELECT CAST(r_score AS INTEGER) AS r_score,
      |  CAST(f_score AS INTEGER) AS f_score,
      |  CAST(m_score AS INTEGER) AS m_score, COUNT(*) AS n_customers,
      |  CAST(SUM(monetary) AS DOUBLE) AS segment_spend
      |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // --------------------------------------------------------------- q143
  /** Revenue-concentration deciles (the Pareto 80/20 audit): customers
    * sorted by lifetime spend descending, cut into ten equal-REVENUE
    * (not equal-count) buckets; the output census shows how few
    * customers carry each tenth of total revenue.
    *
    * Exactness: everything up to the final share is INTEGER arithmetic
    * — 2-dp spend to exact cents, cumulative and total sums of longs,
    * and the bucket index ((cum−1)·10) div total + 1, floor-division on
    * integers in both engines (never float division, whose rounding at
    * decile boundaries could split a customer differently). One double
    * division for the share at the end.
    *
    * Scale shape (re-registered round 12, VERDICT r11 #6): per-customer
    * rollup is a map-combinable hash agg; the cumulative spend comes
    * from [[graft.operators.RangeRank.withRunningSum]] (range shuffle +
    * partitioned local cumsums + broadcast offsets — exact, no
    * single-partition window) and the grand total is a 1-row broadcast.
    * Final census is 10 rows. */
  def q143RevenueDeciles(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val cust = Kpis.table(spark, dir, "orders")
      .select(col("o_custkey"), cents.as("cents"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("cents")).as("spend"))
    // round 12 (VERDICT r11 #6): cumulative spend via the
    // range-partitioned exact running sum (bit-identical to the ordered
    // window the oracle spells), and the grand total as a 1-row
    // broadcast instead of a global window — no single-partition pass
    // anywhere in the plan.
    val total = cust.agg(sum(col("spend")).as("total"))
    graft.operators.RangeRank
      .withRunningSum(cust, col("spend"), "cum",
        Seq(col("spend").desc, col("o_custkey")))
      .crossJoin(broadcast(total))
      .withColumn("decile",
        (expr("((cum - 1) * 10) div total") + lit(1)).cast("int"))
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("spend")).as("decile_cents"),
        (sum(col("spend")).cast("double") /
          max(col("total")).cast("double")).as("revenue_share"))
      .orderBy("decile")
  }

  val q143Sql: String =
    """WITH cust AS (
      |  SELECT o_custkey,
      |    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend
      |  FROM orders GROUP BY 1),
      |cum AS (
      |  SELECT o_custkey, spend,
      |    SUM(spend) OVER (ORDER BY spend DESC, o_custkey
      |                     ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(spend) OVER () AS total
      |  FROM cust)
      |SELECT CAST(((cum - 1) * 10) // total + 1 AS INTEGER) AS decile,
      |  COUNT(*) AS n_customers,
      |  CAST(SUM(spend) AS BIGINT) AS decile_cents,
      |  CAST(SUM(spend) AS DOUBLE) / CAST(MAX(total) AS DOUBLE)
      |    AS revenue_share
      |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q206
  /** Score-decile lift curve (model calibration audit): customers are
    * scored by their lifetime spend BEFORE 2001, deciled on the score,
    * and each decile is graded on the actual outcome — did the customer
    * order IN 2001? Per decile: response rate, lift over the base rate,
    * and cumulative capture (what share of all 2001 buyers the top-k
    * deciles contain) — the standard audit for any propensity/churn
    * score before it gates a campaign or a retention spend.
    *
    * Exactness: the score is exact cents (long), responders are 0/1
    * ints; every rate/lift/capture is a single double expression over
    * exact integer sums, spelled identically in both engines, rounded
    * at 6 dp with the −0.0 guard.
    *
    * Scale shape: two map-combinable rollups over orders + two
    * broadcast-left-joins onto the customer table; the decile comes
    * from [[graft.operators.RangeRank.withNtile]] (range shuffle +
    * broadcast offsets — exact NTILE, no single-partition window over
    * the entity table); the only global windows run over the 10-row
    * decile census (WindowGuardSpec-pinned). */
  def q206LiftCurve(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit("2001-01-01").cast("date")
    val orders = Kpis.table(spark, dir, "orders")
    val hist = orders
      .filter(to_date(col("o_orderdate")) < cut)
      .groupBy(col("o_custkey").as("hk"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("score"))
    val fut = orders
      .filter(to_date(col("o_orderdate")) >= cut)
      .groupBy(col("o_custkey").as("fk")).agg(lit(1L).as("responded"))
    val base = Kpis.table(spark, dir, "customer").select(col("c_custkey"))
      .join(hist, col("c_custkey") === col("hk"), "left")
      .join(fut, col("c_custkey") === col("fk"), "left")
      .select(col("c_custkey"),
        coalesce(col("score"), lit(0L)).as("score"),
        coalesce(col("responded"), lit(0L)).as("responded"))
    val census = graft.operators.RangeRank
      .withNtile(base, "decile", 10, Seq(col("score").desc, col("c_custkey")))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("responded")).as("responders"))
    val cum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    census
      .withColumn("cum_resp", sum(col("responders")).over(cum))
      .withColumn("tot_resp", sum(col("responders")).over(tot))
      .withColumn("tot_n", sum(col("n_customers")).over(tot))
      .select(
        col("decile"), col("n_customers"), col("responders"),
        (round(col("responders").cast("double") /
          col("n_customers").cast("double"), 6) + lit(0.0))
          .as("response_rate"),
        (round(
          (col("responders").cast("double") /
            col("n_customers").cast("double")) /
            (col("tot_resp").cast("double") / col("tot_n").cast("double")),
          6) + lit(0.0)).as("lift"),
        (round(col("cum_resp").cast("double") /
          col("tot_resp").cast("double"), 6) + lit(0.0)).as("cum_capture"))
      .orderBy("decile")
  }

  val q206Sql: String =
    """WITH hist AS (
      |  SELECT o_custkey,
      |    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS score
      |  FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '2001-01-01'
      |  GROUP BY 1),
      |fut AS (
      |  SELECT o_custkey, 1 AS responded FROM orders
      |  WHERE CAST(o_orderdate AS DATE) >= DATE '2001-01-01' GROUP BY 1),
      |base AS (
      |  SELECT c.c_custkey, COALESCE(h.score, 0) AS score,
      |    COALESCE(f.responded, 0) AS responded
      |  FROM customer c
      |  LEFT JOIN hist h ON h.o_custkey = c.c_custkey
      |  LEFT JOIN fut f ON f.o_custkey = c.c_custkey),
      |dec AS (
      |  SELECT *, NTILE(10) OVER (ORDER BY score DESC, c_custkey) AS decile
      |  FROM base),
      |census AS (
      |  SELECT decile, COUNT(*) AS n_customers,
      |    CAST(SUM(responded) AS BIGINT) AS responders
      |  FROM dec GROUP BY 1),
      |w AS (
      |  SELECT *,
      |    SUM(responders) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
      |      AS cum_resp,
      |    SUM(responders) OVER () AS tot_resp,
      |    SUM(n_customers) OVER () AS tot_n
      |  FROM census)
      |SELECT CAST(decile AS INTEGER) AS decile, n_customers, responders,
      |  round(CAST(responders AS DOUBLE) / CAST(n_customers AS DOUBLE), 6)
      |    + 0.0 AS response_rate,
      |  round((CAST(responders AS DOUBLE) / CAST(n_customers AS DOUBLE)) /
      |    (CAST(tot_resp AS DOUBLE) / CAST(tot_n AS DOUBLE)), 6) + 0.0
      |    AS lift,
      |  round(CAST(cum_resp AS DOUBLE) / CAST(tot_resp AS DOUBLE), 6) + 0.0
      |    AS cum_capture
      |FROM w ORDER BY decile""".stripMargin

  // --------------------------------------------------------------- q215
  /** ABC inventory classification: parts ranked by discounted revenue,
    * class A = parts while the cumulative share is ≤ 80%, B to 95%, C
    * the tail — the census (how many SKUs carry each band) that drives
    * stocking policy. The part-side companion to q143's customer
    * deciles.
    *
    * Exactness: revenue in exact ten-thousandths (4-dp product of 2-dp
    * price × 2-dp discount factor); the 80/95 boundaries are INTEGER
    * comparisons (cum·100 ≤ total·80 / ·95), never a float share at the
    * class edge; doubles appear only in the two output measures.
    *
    * Scale shape: per-part rollup (hash agg on the fact) →
    * [[graft.operators.RangeRank.withRunningSum]] for the exact
    * cumulative (range shuffle, no single-partition window) → 1-row
    * broadcast total → 3-row census. The ·100 products stay in BIGINT
    * (headroom to ~9·10¹⁶ ten-thousandths ≈ 9 trillion currency units;
    * route through DECIMAL(38,0) beyond that). */
  def q215AbcClassification(spark: SparkSession, dir: String): DataFrame = {
    val perPart = Kpis.table(spark, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg((sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).cast("decimal(18,4)") * lit(10000))
        .cast("long").as("rt"))
    val total = perPart.agg(sum(col("rt")).as("total"))
    graft.operators.RangeRank
      .withRunningSum(perPart, col("rt"), "cum",
        Seq(col("rt").desc, col("l_partkey")))
      .crossJoin(broadcast(total))
      .withColumn("abc_class",
        when(col("cum") * 100 <= col("total") * 80, "A")
          .when(col("cum") * 100 <= col("total") * 95, "B")
          .otherwise("C"))
      .groupBy(col("abc_class"))
      .agg(
        count(lit(1)).as("n_parts"),
        (sum(col("rt")).cast("double") / lit(10000.0)).as("class_revenue"),
        (sum(col("rt")).cast("double") / max(col("total")).cast("double"))
          .as("revenue_share"))
      .orderBy("abc_class")
  }

  val q215Sql: String =
    """WITH pp AS (
      |  SELECT l_partkey,
      |    CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
      |      AS DECIMAL(18,4))) AS DECIMAL(18,4)) * 10000 AS BIGINT) AS rt
      |  FROM lineitem GROUP BY 1),
      |c AS (
      |  SELECT l_partkey, rt,
      |    SUM(rt) OVER (ORDER BY rt DESC, l_partkey
      |                  ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(rt) OVER () AS total
      |  FROM pp)
      |SELECT CASE WHEN cum * 100 <= total * 80 THEN 'A'
      |            WHEN cum * 100 <= total * 95 THEN 'B'
      |            ELSE 'C' END AS abc_class,
      |  COUNT(*) AS n_parts,
      |  CAST(SUM(rt) AS DOUBLE) / 10000.0 AS class_revenue,
      |  CAST(SUM(rt) AS DOUBLE) / CAST(MAX(total) AS DOUBLE)
      |    AS revenue_share
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q227
  /** Laspeyres price index by ship month: how have prices moved for the
    * base-period basket? I_t = Σ_p q₀(p)·p_t(p) / Σ_p q₀(p)·p₀(p) over
    * parts traded in BOTH the base month (the first month, 1995-01)
    * and month t — base-month quantities freeze the basket so the
    * index isolates PRICE motion from mix shift. The macro lens on
    * pricing that q199's elasticity views microscopically.
    *
    * Exactness: per-(part, month) quantity and revenue are exact
    * decimals; each part's unit price and basket term is a single
    * double expression rounded into DECIMAL(24,6) before the
    * cross-part sums (no multi-row double sum); the index is one
    * division.
    *
    * Scale shape: fact → (part, month) rollup (map-combinable);
    * base-month slice broadcast-joins back; the per-month sums are a
    * second hash agg. Months are calendar-bounded. */
  def q227PriceIndex(spark: SparkSession, dir: String): DataFrame = {
    val pm = Kpis.table(spark, dir, "lineitem")
      .groupBy(col("l_partkey"),
        date_format(col("l_shipdate"), "yyyy-MM").as("m"))
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("qty"),
        sum(col("l_extendedprice").cast("decimal(18,4)")).as("ext"))
    val base = pm.filter(col("m") === "1995-01")
      .select(col("l_partkey").as("bp"), col("qty").as("q0"),
        (col("ext").cast("double") / col("qty").cast("double")).as("p0"))
    pm.join(broadcast(base), col("l_partkey") === col("bp"))
      .select(col("m"),
        round(col("q0").cast("double") *
          (col("ext").cast("double") / col("qty").cast("double")), 6)
          .cast("decimal(24,6)").as("num_term"),
        round(col("q0").cast("double") * col("p0"), 6)
          .cast("decimal(24,6)").as("den_term"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_parts_matched"),
        sum(col("num_term")).as("num"), sum(col("den_term")).as("den"))
      .select(col("m").as("month"), col("n_parts_matched"),
        (round(col("num").cast("double") / col("den").cast("double"), 6) +
          lit(0.0)).as("laspeyres_index"))
      .orderBy("month")
  }

  val q227Sql: String =
    """WITH pm AS (
      |  SELECT l_partkey, strftime(l_shipdate, '%Y-%m') AS m,
      |    SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS ext
      |  FROM lineitem GROUP BY 1, 2),
      |base AS (
      |  SELECT l_partkey AS bp, qty AS q0,
      |    CAST(ext AS DOUBLE) / CAST(qty AS DOUBLE) AS p0
      |  FROM pm WHERE m = '1995-01'),
      |terms AS (
      |  SELECT m,
      |    CAST(round(CAST(q0 AS DOUBLE) *
      |      (CAST(ext AS DOUBLE) / CAST(qty AS DOUBLE)), 6)
      |      AS DECIMAL(24,6)) AS num_term,
      |    CAST(round(CAST(q0 AS DOUBLE) * p0, 6) AS DECIMAL(24,6))
      |      AS den_term
      |  FROM pm JOIN base ON l_partkey = bp)
      |SELECT m AS month, COUNT(*) AS n_parts_matched,
      |  round(CAST(SUM(num_term) AS DOUBLE) / CAST(SUM(den_term) AS DOUBLE),
      |    6) + 0.0 AS laspeyres_index
      |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q252
  /** Month-over-month revenue bridge (the FP&A waterfall): each month's
    * revenue delta decomposed into price effect Σ(p₁−p₀)·q₀, volume
    * effect Σ(q₁−q₀)·p₀, their interaction, and net part churn
    * (revenue from parts that entered minus parts that exited the
    * basket). `bridge_gap` = actual delta − Σ(components) certifies
    * closure (≈0 up to the per-part 6-dp rounding) — q227 indexes the
    * price component; this explains the whole delta.
    *
    * Exactness: monthly part revenues/quantities are exact decimals;
    * the actual delta is exact decimal subtraction; each matched
    * part's three effects are double terms rounded into DECIMAL(24,6)
    * before the month sums; churn components are exact.
    *
    * Scale shape: one (part, month) rollup, one self-join on
    * (part, consecutive month index) — a hash join, with churn from
    * the same join's anti sides (full-outer, one pass) — then
    * month-census aggregates. */
  def q252RevenueBridge(spark: SparkSession, dir: String): DataFrame = {
    val pm = Kpis.table(spark, dir, "lineitem")
      .groupBy(col("l_partkey").as("pk"),
        ((year(col("l_shipdate")) - 1995) * 12 +
          month(col("l_shipdate")) - 1).as("mi"))
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("qty"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).as("rev"))
      .localCheckpoint(true)
    val prev = pm.select(col("pk").as("pk0"), (col("mi") + 1).as("mi0"),
      col("qty").as("qty0"), col("rev").as("rev0"))
    val cur = pm.select(col("pk").as("pk1"), col("mi").as("mi1"),
      col("qty").as("qty1"), col("rev").as("rev1"))
    val joined = cur.join(prev,
      col("pk1") === col("pk0") && col("mi1") === col("mi0"), "full_outer")
      .withColumn("mi", coalesce(col("mi1"), col("mi0")))
    val p0 = col("rev0").cast("double") / col("qty0").cast("double")
    val p1 = col("rev1").cast("double") / col("qty1").cast("double")
    val dq = col("qty1").cast("double") - col("qty0").cast("double")
    // floor-quantize per-part terms to exact micro-units: floor of the
    // SAME double is bit-identical across engines, while round(x, 6)'s
    // tie-breaking on arbitrary doubles is not (Spark rounds the
    // shortest decimal rendering, DuckDB the binary value — q252's
    // first cut differed by 1e-6 on real data)
    def micro(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor(x * lit(1000000.0)).cast("long")
    val bridged = joined.groupBy(col("mi"))
      .agg(
        sum(when(col("pk1").isNotNull && col("pk0").isNotNull,
          micro((p1 - p0) * col("qty0").cast("double")))
          .otherwise(0L)).as("price_micro"),
        sum(when(col("pk1").isNotNull && col("pk0").isNotNull,
          micro(dq * p0)).otherwise(0L)).as("volume_micro"),
        sum(when(col("pk1").isNotNull && col("pk0").isNotNull,
          micro((p1 - p0) * dq)).otherwise(0L)).as("inter_micro"),
        sum(when(col("pk0").isNull, col("rev1"))
          .otherwise(lit(0).cast("decimal(18,4)"))).as("entered_rev"),
        sum(when(col("pk1").isNull, col("rev0"))
          .otherwise(lit(0).cast("decimal(18,4)"))).as("exited_rev"))
    val totals = pm.groupBy(col("mi").as("tmi"))
      .agg(sum(col("rev")).as("mrev"))
    val deltas = totals
      .join(totals.select((col("tmi") + 1).as("dmi"),
        col("mrev").as("prev_rev")), col("tmi") === col("dmi"))
      .select(col("tmi"), (col("mrev") - col("prev_rev")).as("actual"))
    bridged.join(deltas, col("mi") === col("tmi"))
      .select(col("mi").cast("long").as("month_index"),
        (col("price_micro").cast("double") / lit(1e6)).as("price_effect"),
        (col("volume_micro").cast("double") / lit(1e6))
          .as("volume_effect"),
        (col("inter_micro").cast("double") / lit(1e6)).as("interaction"),
        (col("entered_rev") - col("exited_rev")).cast("double")
          .as("net_churn"),
        col("actual").cast("double").as("actual_delta"),
        (round(col("actual").cast("double") -
          (col("price_micro") + col("volume_micro") + col("inter_micro"))
            .cast("double") / lit(1e6) -
          (col("entered_rev") - col("exited_rev")).cast("double"), 2) +
          lit(0.0)).as("bridge_gap"))
      .orderBy("month_index")
  }

  val q252Sql: String =
    """WITH pm AS (
      |  SELECT l_partkey AS pk,
      |    (year(l_shipdate) - 1995) * 12 + month(l_shipdate) - 1 AS mi,
      |    SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty,
      |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |      AS rev
      |  FROM lineitem GROUP BY 1, 2),
      |j AS (
      |  SELECT COALESCE(c.mi, p.mi0) AS mi,
      |    c.pk AS pk1, p.pk0, c.qty AS qty1, c.rev AS rev1,
      |    p.qty0, p.rev0
      |  FROM pm c
      |  FULL JOIN (SELECT pk AS pk0, mi + 1 AS mi0, qty AS qty0,
      |               rev AS rev0 FROM pm) p
      |    ON c.pk = p.pk0 AND c.mi = p.mi0),
      |b AS (
      |  SELECT mi,
      |    SUM(CASE WHEN pk1 IS NOT NULL AND pk0 IS NOT NULL THEN
      |      CAST(floor((CAST(rev1 AS DOUBLE) / CAST(qty1 AS DOUBLE) -
      |        CAST(rev0 AS DOUBLE) / CAST(qty0 AS DOUBLE)) *
      |        CAST(qty0 AS DOUBLE) * 1000000.0) AS BIGINT)
      |      ELSE 0 END) AS price_micro,
      |    SUM(CASE WHEN pk1 IS NOT NULL AND pk0 IS NOT NULL THEN
      |      CAST(floor((CAST(qty1 AS DOUBLE) - CAST(qty0 AS DOUBLE)) *
      |        (CAST(rev0 AS DOUBLE) / CAST(qty0 AS DOUBLE)) * 1000000.0)
      |        AS BIGINT)
      |      ELSE 0 END) AS volume_micro,
      |    SUM(CASE WHEN pk1 IS NOT NULL AND pk0 IS NOT NULL THEN
      |      CAST(floor((CAST(rev1 AS DOUBLE) / CAST(qty1 AS DOUBLE) -
      |        CAST(rev0 AS DOUBLE) / CAST(qty0 AS DOUBLE)) *
      |        (CAST(qty1 AS DOUBLE) - CAST(qty0 AS DOUBLE)) * 1000000.0)
      |        AS BIGINT)
      |      ELSE 0 END) AS inter_micro,
      |    SUM(CASE WHEN pk0 IS NULL THEN rev1
      |        ELSE CAST(0 AS DECIMAL(18,4)) END) AS entered_rev,
      |    SUM(CASE WHEN pk1 IS NULL THEN rev0
      |        ELSE CAST(0 AS DECIMAL(18,4)) END) AS exited_rev
      |  FROM j GROUP BY 1),
      |tot AS (SELECT mi AS tmi, SUM(rev) AS mrev FROM pm GROUP BY 1),
      |d AS (
      |  SELECT t1.tmi, t1.mrev - t2.mrev AS actual
      |  FROM tot t1 JOIN tot t2 ON t1.tmi = t2.tmi + 1)
      |SELECT CAST(b.mi AS BIGINT) AS month_index,
      |  CAST(price_micro AS DOUBLE) / 1e6 AS price_effect,
      |  CAST(volume_micro AS DOUBLE) / 1e6 AS volume_effect,
      |  CAST(inter_micro AS DOUBLE) / 1e6 AS interaction,
      |  CAST(entered_rev - exited_rev AS DOUBLE) AS net_churn,
      |  CAST(actual AS DOUBLE) AS actual_delta,
      |  round(CAST(actual AS DOUBLE) -
      |    CAST(price_micro + volume_micro + inter_micro AS DOUBLE) / 1e6 -
      |    CAST(entered_rev - exited_rev AS DOUBLE), 2) + 0.0 AS bridge_gap
      |FROM b JOIN d ON b.mi = d.tmi
      |ORDER BY month_index""".stripMargin

  // --------------------------------------------------------------- q255
  /** Spend-quintile migration matrix: customers active in BOTH
    * 1995–1997 and 1998–2000 are quintiled on spend within each period
    * (exact partitioned NTILE), and the 5×5 transition census shows who
    * climbed, who slipped, and how sticky the top tier is — the segment
    * dynamics q139's static RFM snapshot can't see.
    *
    * Exactness: period spends are exact cents; quintiles come from
    * [[graft.operators.RangeRank.withNtile]] over the BOTH-ACTIVE
    * population (bit-identical to SQL NTILE); the matrix is exact
    * counts plus one double share.
    *
    * Scale shape: two conditional rollups in ONE orders pass; the
    * inner join keeps both-active customers; two RangeRank passes
    * (range shuffle + broadcast offsets each); final 25-cell census. */
  def q255SegmentMigration(spark: SparkSession, dir: String): DataFrame = {
    val o = Kpis.table(spark, dir, "orders")
      .withColumn("yr", year(col("o_orderdate")))
      .filter(col("yr").between(1995, 2000))
      .groupBy(col("o_custkey"))
      .agg(
        sum(when(col("yr") <= 1997,
          round(col("o_totalprice") * 100).cast("long")).otherwise(0L))
          .as("s1"),
        sum(when(col("yr") >= 1998,
          round(col("o_totalprice") * 100).cast("long")).otherwise(0L))
          .as("s2"),
        sum(when(col("yr") <= 1997, 1L).otherwise(0L)).as("n1"),
        sum(when(col("yr") >= 1998, 1L).otherwise(0L)).as("n2"))
      .filter(col("n1") > 0 && col("n2") > 0)
    val q1 = graft.operators.RangeRank.withNtile(o, "seg_from", 5,
      Seq(col("s1"), col("o_custkey")))
    val q2 = graft.operators.RangeRank.withNtile(q1, "seg_to", 5,
      Seq(col("s2"), col("o_custkey")))
    val tot = o.agg(count(lit(1)).as("n_total"))
    q2.groupBy(col("seg_from"), col("seg_to"))
      .agg(count(lit(1)).as("n_customers"))
      .crossJoin(broadcast(tot))
      .select(col("seg_from"), col("seg_to"), col("n_customers"),
        (round(col("n_customers").cast("double") /
          col("n_total").cast("double"), 6) + lit(0.0)).as("share"))
      .orderBy("seg_from", "seg_to")
  }

  val q255Sql: String =
    """WITH o AS (
      |  SELECT o_custkey,
      |    SUM(CASE WHEN year(o_orderdate) <= 1997
      |        THEN CAST(round(o_totalprice * 100) AS BIGINT)
      |        ELSE 0 END) AS s1,
      |    SUM(CASE WHEN year(o_orderdate) >= 1998
      |        THEN CAST(round(o_totalprice * 100) AS BIGINT)
      |        ELSE 0 END) AS s2,
      |    SUM(CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END)
      |      AS n1,
      |    SUM(CASE WHEN year(o_orderdate) >= 1998 THEN 1 ELSE 0 END)
      |      AS n2
      |  FROM orders
      |  WHERE year(o_orderdate) BETWEEN 1995 AND 2000
      |  GROUP BY 1),
      |act AS (SELECT * FROM o WHERE n1 > 0 AND n2 > 0),
      |seg AS (
      |  SELECT o_custkey,
      |    NTILE(5) OVER (ORDER BY s1, o_custkey) AS seg_from,
      |    NTILE(5) OVER (ORDER BY s2, o_custkey) AS seg_to
      |  FROM act),
      |tot AS (SELECT COUNT(*) AS n_total FROM act)
      |SELECT CAST(seg_from AS INTEGER) AS seg_from,
      |  CAST(seg_to AS INTEGER) AS seg_to,
      |  COUNT(*) AS n_customers,
      |  round(CAST(COUNT(*) AS DOUBLE) / CAST(MAX(n_total) AS DOUBLE), 6)
      |    + 0.0 AS share
      |FROM seg, tot GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q256
  /** Theil-T decomposition of customer-spend inequality: unlike the
    * Gini (q174, per-nation only), Theil's entropy index decomposes
    * ADDITIVELY — T_total = T_between + Σ shareᵢ·T_withinᵢ — so it
    * answers "is revenue inequality a geography story or a
    * within-market story?" in one exact identity, with the residual
    * printed as the audit (`decomposition_gap` ≈ 0 up to term
    * quantization).
    *
    * Exactness: spends are exact cents; every entropy term
    * ((x/μ)·ln(x/μ) at customer grain, share·ln ratio at nation grain)
    * is floor-quantized to nano-units (the q252 convention — floor of
    * the same double is engine-exact, round() is not) and summed as
    * exact DECIMAL; the three index values are single double
    * divisions.
    *
    * Scale shape: per-customer rollup → 25-row nation stats broadcast
    * back → ONE more customer pass for the within terms → census
    * aggregates. No window. */
  def q256TheilDecomposition(spark: SparkSession, dir: String): DataFrame = {
    def nano(x: org.apache.spark.sql.Column) =
      floor(x * lit(1e9)).cast("decimal(28,0)")
    val cust = Kpis.table(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
      .join(Kpis.table(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").as("nk")),
        col("o_custkey") === col("c_custkey"))
      .select(col("nk"), col("x"))
      .localCheckpoint(true)
    val tot = cust.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val nat = cust.groupBy(col("nk"))
      .agg(count(lit(1)).as("ni"), sum(col("x")).as("si"))
      .localCheckpoint(true)
    val mu = col("s").cast("double") / col("n").cast("double")
    val mui = col("si").cast("double") / col("ni").cast("double")
    val tTotal = cust.crossJoin(broadcast(tot))
      .select(nano((col("x").cast("double") / mu) *
        log(col("x").cast("double") / mu)).as("t"))
      .agg(sum(col("t")).as("ts"))
      .crossJoin(broadcast(tot))
      .select((col("ts").cast("double") / lit(1e9) /
        col("n").cast("double")).as("t_total"))
    val tBetween = nat.crossJoin(broadcast(tot))
      .select(nano((col("ni").cast("double") / col("n").cast("double")) *
        (mui / mu) * log(mui / mu)).as("t"))
      .agg((sum(col("t")).cast("double") / lit(1e9)).as("t_between"))
    val withinTerms = cust
      .join(broadcast(nat), "nk")
      .select(col("nk"), col("ni"), col("si"),
        nano((col("x").cast("double") / mui) *
          log(col("x").cast("double") / mui)).as("t"))
      .groupBy(col("nk"), col("ni"), col("si"))
      .agg(sum(col("t")).as("tw"))
      .crossJoin(broadcast(tot))
      .select(nano((col("si").cast("double") / col("s").cast("double")) *
        (col("tw").cast("double") / lit(1e9) / col("ni").cast("double")))
        .as("wt"))
      .agg((sum(col("wt")).cast("double") / lit(1e9))
        .as("t_within_weighted"))
    tTotal.crossJoin(broadcast(tBetween))
      .crossJoin(broadcast(withinTerms))
      .select(
        (round(col("t_total"), 6) + lit(0.0)).as("t_total"),
        (round(col("t_between"), 6) + lit(0.0)).as("t_between"),
        (round(col("t_within_weighted"), 6) + lit(0.0))
          .as("t_within_weighted"),
        (round(col("t_total") - col("t_between") -
          col("t_within_weighted"), 4) + lit(0.0))
          .as("decomposition_gap"))
  }

  val q256Sql: String =
    """WITH cust AS (
      |  SELECT c_nationkey AS nk,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS x
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY o_custkey, c_nationkey),
      |tot AS (
      |  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s FROM cust),
      |nat AS (
      |  SELECT nk, COUNT(*) AS ni, CAST(SUM(x) AS BIGINT) AS si
      |  FROM cust GROUP BY 1),
      |tt AS (
      |  SELECT CAST(SUM(CAST(floor(
      |      (CAST(x AS DOUBLE) / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) *
      |      ln(CAST(x AS DOUBLE) / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
      |      * 1e9) AS DECIMAL(28,0))) AS DOUBLE) / 1e9 /
      |    CAST(MAX(n) AS DOUBLE) AS t_total
      |  FROM cust, tot),
      |tb AS (
      |  SELECT CAST(SUM(CAST(floor(
      |      (CAST(ni AS DOUBLE) / CAST(n AS DOUBLE)) *
      |      ((CAST(si AS DOUBLE) / CAST(ni AS DOUBLE)) /
      |       (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) *
      |      ln((CAST(si AS DOUBLE) / CAST(ni AS DOUBLE)) /
      |         (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) * 1e9)
      |      AS DECIMAL(28,0))) AS DOUBLE) / 1e9 AS t_between
      |  FROM nat, tot),
      |wi AS (
      |  SELECT c.nk, nat.ni, nat.si,
      |    CAST(floor((CAST(c.x AS DOUBLE) /
      |      (CAST(nat.si AS DOUBLE) / CAST(nat.ni AS DOUBLE))) *
      |      ln(CAST(c.x AS DOUBLE) /
      |        (CAST(nat.si AS DOUBLE) / CAST(nat.ni AS DOUBLE))) * 1e9)
      |      AS DECIMAL(28,0)) AS t
      |  FROM cust c JOIN nat ON c.nk = nat.nk),
      |twn AS (
      |  SELECT nk, ni, si, SUM(t) AS tw FROM wi GROUP BY 1, 2, 3),
      |tw AS (
      |  SELECT CAST(SUM(CAST(floor(
      |      (CAST(si AS DOUBLE) / CAST(s AS DOUBLE)) *
      |      (CAST(tw AS DOUBLE) / 1e9 / CAST(ni AS DOUBLE)) * 1e9)
      |      AS DECIMAL(28,0))) AS DOUBLE) / 1e9 AS t_within_weighted
      |  FROM twn, tot)
      |SELECT round(t_total, 6) + 0.0 AS t_total,
      |  round(t_between, 6) + 0.0 AS t_between,
      |  round(t_within_weighted, 6) + 0.0 AS t_within_weighted,
      |  round(t_total - t_between - t_within_weighted, 4) + 0.0
      |    AS decomposition_gap
      |FROM tt, tb, tw""".stripMargin

  // --------------------------------------------------------------- q267
  /** Assortment-diversity profile per supplier nation — the Hill-number
    * triple over the nation's revenue-by-part distribution: richness
    * (q=0, parts with any revenue), Shannon effective parts e^H (q=1),
    * and inverse-Simpson effective parts 1/Σp² (q=2), plus evenness
    * e^H/richness. The assortment answer q188's HHI only hints at: HHI
    * is 1/(q=2 diversity) for suppliers; this profiles how CONCENTRATED
    * each market's product mix is — a nation with 500 parts but
    * e^H ≈ 20 sells 500 SKUs and depends on 20; the q-gradient
    * (richness ≫ e^H ≫ 1/Σp²) says the concentration lives in the
    * tail, not the head.
    *
    * Exactness: per-(nation, part) revenue is the exact DECIMAL(18,4)
    * sum; Σx² is an exact DECIMAL(38,8) sum; H is the revenue-weighted
    * ln9 grid (exact DECIMAL products, q137's convention); e^H,
    * 1/Σp² = S²/Σx², and evenness are closing double chains,
    * 6-dp-rounded (−0.0-guarded) to absorb the wide-decimal→double cast
    * ulp and libm exp.
    *
    * Scale shape: ONE map-combinable (nation, part) agg off the
    * lineitem↔supplier broadcast join; the per-nation S is a window
    * over that part-bounded census; one census-scale closing agg. */
  def q267DiversityProfile(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactMath.ln9
    val s = broadcast(Kpis.table(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey")))
    val nat = broadcast(Kpis.table(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name")))
    val census = Kpis.table(spark, dir, "lineitem")
      .select(col("l_suppkey"), col("l_partkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)").as("rev"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"), col("l_partkey"))
      .agg(sum(col("rev")).as("x"))
      .filter(col("x") > 0)
      .withColumn("stot",
        sum(col("x")).over(Window.partitionBy(col("s_nationkey"))))
    // re-narrow the summed x to (18,4): the sum widens to (28,4) and a
    // (12,9)×(28,4) product would exceed DECIMAL(38), where Spark trims
    // scale and DuckDB errors — the ExactMath.ln9 width contract
    val xN = col("x").cast("decimal(18,4)")
    val st = census
      .select(col("s_nationkey"), col("x"), col("stot"),
        (xN * xN).cast("decimal(38,8)").as("x2"),
        (ln9(col("stot").cast("double") / col("x").cast("double")) * xN)
          .as("hw"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_parts"), max(col("stot")).as("stot"),
        sum(col("x2")).as("sx2"), sum(col("hw")).as("sh"))
    val sD = col("stot").cast("double")
    val effH = exp(col("sh").cast("double") / sD)
    val effS = sD * sD / col("sx2").cast("double")
    st.join(nat, col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("n_parts"),
        col("stot").cast("double").as("revenue"),
        (round(effH, 6) + lit(0.0)).as("eff_parts_shannon"),
        (round(effS, 6) + lit(0.0)).as("eff_parts_simpson"),
        (round(effH / col("n_parts").cast("double"), 6) + lit(0.0))
          .as("evenness"))
      .orderBy("nation")
  }

  val q267Sql: String =
    """WITH census AS (
      |  SELECT s_nationkey, l_partkey,
      |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
      |      AS x
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY 1, 2 HAVING SUM(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(18,4))) > 0),
      |m AS (
      |  SELECT s_nationkey, x,
      |    SUM(x) OVER (PARTITION BY s_nationkey) AS stot
      |  FROM census),
      |st AS (
      |  SELECT s_nationkey, COUNT(*) AS n_parts, MAX(stot) AS stot,
      |    SUM(CAST(CAST(x AS DECIMAL(19,4)) * CAST(x AS DECIMAL(19,4))
      |      AS DECIMAL(38,8))) AS sx2,
      |    SUM(CAST(round(ln(CAST(stot AS DOUBLE) / CAST(x AS DOUBLE)), 9)
      |      AS DECIMAL(19,9)) * CAST(x AS DECIMAL(19,4))) AS sh
      |  FROM m GROUP BY 1)
      |SELECT n_name AS nation, n_parts,
      |  CAST(stot AS DOUBLE) AS revenue,
      |  round(exp(CAST(sh AS DOUBLE) / CAST(stot AS DOUBLE)), 6) + 0.0
      |    AS eff_parts_shannon,
      |  round(CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE) /
      |    CAST(sx2 AS DOUBLE), 6) + 0.0 AS eff_parts_simpson,
      |  round(exp(CAST(sh AS DOUBLE) / CAST(stot AS DOUBLE)) /
      |    CAST(n_parts AS DOUBLE), 6) + 0.0 AS evenness
      |FROM st JOIN nation ON s_nationkey = n_nationkey
      |ORDER BY nation""".stripMargin

  // --------------------------------------------------------------- q273
  /** Market growth table per customer nation over the fully-covered
    * 1995–2000 span: endpoint revenues, the compound annual growth rate
    * (rev₂₀₀₀/rev₁₉₉₅)^(1/5) − 1, and the mean absolute year-over-year
    * growth as a volatility companion (two markets with the same CAGR
    * can be a smooth climb or a rollercoaster; a planner treats them
    * differently). The longitudinal complement to q121's market-share
    * snapshot and q256's inequality decomposition.
    *
    * Exactness: per-(nation, year) revenue is the exact BIGINT cent
    * sum; the yearly join is a dense census self-join; CAGR and the
    * volatility mean are double chains on exact operands spelled
    * identically, 6-dp-rounded (pow/abs are the only libm ops, ulp
    * absorbed by the rounding); nations missing an endpoint year drop
    * (inner join) — the honest "no CAGR without both endpoints".
    *
    * Scale shape: one map-combinable (nation, year) agg off the
    * orders↔customer join; everything downstream is the ≤|nations|·6
    * census. */
  def q273NationCagr(spark: SparkSession, dir: String): DataFrame = {
    val cust = broadcast(Kpis.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey")))
    val nat = broadcast(Kpis.table(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name")))
    val yearly = Kpis.table(spark, dir, "orders")
      .withColumn("yr", year(col("o_orderdate")))
      .filter(col("yr").between(1995, 2000))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("yr"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
    val w = Window.partitionBy(col("c_nationkey")).orderBy(col("yr"))
    val yoy = yearly
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .filter(col("prev").isNotNull && col("prev") > 0)
      .select(col("c_nationkey"),
        abs(col("rev").cast("double") / col("prev").cast("double") -
          lit(1.0)).as("g"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_yoy"),
        (round(sum(round(col("g"), 9).cast("decimal(12,9)")).cast("double") /
          count(lit(1)).cast("double"), 6) + lit(0.0)).as("mean_abs_yoy"))
    val ends = yearly.filter(col("yr") === 1995)
      .select(col("c_nationkey"), col("rev").as("r0"))
      .join(yearly.filter(col("yr") === 2000)
        .select(col("c_nationkey").as("nk2"), col("rev").as("r1")),
        col("c_nationkey") === col("nk2"))
    ends.join(yoy, "c_nationkey")
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"),
        (col("r0").cast("double") / lit(100.0)).as("rev_1995"),
        (col("r1").cast("double") / lit(100.0)).as("rev_2000"),
        (round(pow(col("r1").cast("double") / col("r0").cast("double"),
          lit(1.0) / lit(5.0)) - lit(1.0), 6) + lit(0.0)).as("cagr"),
        col("n_yoy"), col("mean_abs_yoy"))
      .orderBy("nation")
  }

  val q273Sql: String =
    """WITH yearly AS (
      |  SELECT c_nationkey, year(o_orderdate) AS yr,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE year(o_orderdate) BETWEEN 1995 AND 2000
      |  GROUP BY 1, 2),
      |lagged AS (
      |  SELECT c_nationkey, rev,
      |    LAG(rev, 1) OVER (PARTITION BY c_nationkey ORDER BY yr) AS prev
      |  FROM yearly),
      |yoy AS (
      |  SELECT c_nationkey, COUNT(*) AS n_yoy,
      |    round(CAST(SUM(CAST(round(abs(CAST(rev AS DOUBLE) /
      |          CAST(prev AS DOUBLE) - 1.0), 9) AS DECIMAL(12,9)))
      |        AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) + 0.0
      |      AS mean_abs_yoy
      |  FROM lagged WHERE prev IS NOT NULL AND prev > 0
      |  GROUP BY 1)
      |SELECT n_name AS nation,
      |  CAST(a.rev AS DOUBLE) / 100.0 AS rev_1995,
      |  CAST(b.rev AS DOUBLE) / 100.0 AS rev_2000,
      |  round(pow(CAST(b.rev AS DOUBLE) / CAST(a.rev AS DOUBLE),
      |    1.0 / 5.0) - 1.0, 6) + 0.0 AS cagr,
      |  n_yoy, mean_abs_yoy
      |FROM yearly a
      |JOIN yearly b ON a.c_nationkey = b.c_nationkey AND b.yr = 2000
      |JOIN yoy y ON a.c_nationkey = y.c_nationkey
      |JOIN nation ON a.c_nationkey = n_nationkey
      |WHERE a.yr = 1995
      |ORDER BY nation""".stripMargin

  // --------------------------------------------------------------- q304
  /** Laspeyres / Paasche / Fisher price indices, 1996 → 1997 — the
    * index-number answer to "did PRICES move, or did the MIX move":
    * q252's revenue bridge decomposes a revenue delta additively; a
    * price index weights per-part price relatives by a fixed basket
    * (base-year quantities for Laspeyres, current-year for Paasche,
    * their geometric mean for Fisher — the "ideal" index that cancels
    * the two weightings' opposite biases). Computed over the parts
    * traded in BOTH years.
    *
    * Exactness: per-part unit price = round(Σ extprice / Σ qty, 9)
    * snapped to DECIMAL(18,9). The 9-dp grid is LOAD-BEARING: a 4-dp
    * snap measurably diverged (5 parts at sf0.01) because 4-dp-scale
    * extprice over small integer quantities often terminates EXACTLY on
    * a 4-dp half boundary (94420.18/16 = 5901.26125), where Spark's
    * exact-decimal HALF_UP and DuckDB's double-space rounding disagree;
    * at 9 dp no ext/qty quotient can terminate on a boundary (qty ≤ 50
    * ⇒ ≤5 extra decimal digits ⇒ ≤9 total, never the 10 a boundary
    * needs). Quantities are exact integer-valued sums cast DECIMAL(18,4);
    * all four basket sums are exact decimal Σ p·q; each index is ONE
    * closing double division, and Fisher's sqrt(L·P) is safe
    * cross-engine because IEEE-754 sqrt is correctly rounded (unlike
    * pow/log — this is the only sqrt-of-product emitted anywhere
    * without snapping).
    *
    * Scale shape: one (year, part) shuffle with map-side partial sums,
    * a part-keyed self-join of two year slices (both sides already
    * collapsed to the part grain), and a scalar agg. */
  // --------------------------------------------------------------- q335
  /** Monthly revenue FAN CHART: exact p10/median/p90 (plus min/max) of
    * the per-nation revenue distribution for every month — the banded
    * time series an executive dashboard draws to show dispersion, not
    * just the total (q1's daily revenue says how much; this says how
    * unevenly it spreads across markets, month by month). Quantiles are
    * type-1 order statistics at rank ⌈p·n⌉ in pure integer arithmetic,
    * computed with PER-MONTH partitioned rank windows (the q249
    * discipline — parallel at any scale, never global).
    *
    * Exactness: revenue in exact BIGINT cents; ranks and targets are
    * integers; the output bands are exact domain values.
    *
    * Scale shape: one fact rollup to (nation, month) cells, partitioned
    * windows over the ≤25-row month groups, one bounds agg. */
  def q335RevenueFan(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Kpis.table(spark, dir, "orders")
      .join(Kpis.table(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val w = Window.partitionBy(col("m"))
      .orderBy(col("cents"), col("nation"))
    monthly
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n_obs",
        count(lit(1)).over(Window.partitionBy(col("m"))))
      .groupBy(col("m"))
      .agg(max(col("n_obs")).as("n_nations"),
        min(col("cents")).as("min_cents"),
        max(when(col("rk") === expr("(n_obs * 10 + 99) div 100"),
          col("cents"))).as("p10_cents"),
        max(when(col("rk") === expr("(n_obs * 50 + 99) div 100"),
          col("cents"))).as("median_cents"),
        max(when(col("rk") === expr("(n_obs * 90 + 99) div 100"),
          col("cents"))).as("p90_cents"),
        max(col("cents")).as("max_cents"))
      .orderBy("m")
  }

  val q335Sql: String =
    """WITH monthly AS (
      |  SELECT c_nationkey AS nation,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
      |      AS m,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT m, cents,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY m
      |      ORDER BY cents, nation) AS BIGINT) AS rk,
      |    COUNT(*) OVER (PARTITION BY m) AS n_obs
      |  FROM monthly)
      |SELECT m, CAST(MAX(n_obs) AS BIGINT) AS n_nations,
      |  MIN(cents) AS min_cents,
      |  MAX(CASE WHEN rk = (n_obs * 10 + 99) // 100 THEN cents END)
      |    AS p10_cents,
      |  MAX(CASE WHEN rk = (n_obs * 50 + 99) // 100 THEN cents END)
      |    AS median_cents,
      |  MAX(CASE WHEN rk = (n_obs * 90 + 99) // 100 THEN cents END)
      |    AS p90_cents,
      |  MAX(cents) AS max_cents
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q337
  /** Robust monthly revenue anomaly screen per nation: a month is
    * anomalous for a nation when its revenue sits ≥ 3 scaled-MADs from
    * the nation's OWN median — q302's median/MAD rule applied per
    * series, which is how a metrics monitor actually runs it (a global
    * screen drowns small markets in big-market variance). Emits only
    * the anomalous (nation, month) rows with their robust z.
    *
    * Exactness: revenue in exact cents; the per-nation median and MAD
    * are type-1 order statistics from PARTITIONED rank windows (two
    * passes: values, then absolute deviations); the 3·MAD flag
    * cross-multiplies in exact integer space (|x−med|·10000 ≥
    * 3·14826·MAD/10000-scaled — the 1.4826 consistency constant as the
    * exact rational 14826/10000), and the reported robust z is one
    * 6-dp double division.
    *
    * Scale shape: one fact rollup to (nation, month) cells; every
    * window is partitioned by nation over ≤|months| rows. */
  def q337RevenueAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Kpis.table(spark, dir, "orders")
      .join(Kpis.table(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    def groupMedian(df: DataFrame, value: String, out: String) = {
      val w = Window.partitionBy(col("nation"))
        .orderBy(col(value), col("m"))
      df.withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("n_obs",
          count(lit(1)).over(Window.partitionBy(col("nation"))))
        .groupBy(col("nation"))
        .agg(max(when(col("rk") === expr("(n_obs + 1) div 2"),
          col(value))).as(out))
    }
    val med = groupMedian(monthly, "cents", "med")
    val dev = monthly.join(broadcast(med), "nation")
      .withColumn("adev", abs(col("cents") - col("med")))
    val mad = groupMedian(dev.select(col("nation"), col("m"),
      col("adev").as("cents")), "cents", "mad")
    dev.join(broadcast(mad), "nation")
      .filter(col("mad") > 0L &&
        col("adev") * lit(10000L) >= lit(3L) * lit(14826L) * col("mad"))
      .select(col("nation"), col("m"), col("cents"), col("med"),
        col("mad"),
        (round(col("adev").cast("double") /
          (lit(1.4826) * col("mad").cast("double")), 6) + lit(0.0))
          .as("robust_z"))
      .orderBy("nation", "m")
  }

  val q337Sql: String =
    """WITH monthly AS (
      |  SELECT c_nationkey AS nation,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
      |      AS m,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |r1 AS (
      |  SELECT nation, m, cents,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY nation
      |      ORDER BY cents, m) AS BIGINT) AS rk,
      |    COUNT(*) OVER (PARTITION BY nation) AS n_obs
      |  FROM monthly),
      |med AS (
      |  SELECT nation,
      |    MAX(CASE WHEN rk = (n_obs + 1) // 2 THEN cents END) AS med
      |  FROM r1 GROUP BY 1),
      |dev AS (
      |  SELECT monthly.*, med, abs(cents - med) AS adev
      |  FROM monthly JOIN med USING (nation)),
      |r2 AS (
      |  SELECT nation, m, adev,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY nation
      |      ORDER BY adev, m) AS BIGINT) AS rk,
      |    COUNT(*) OVER (PARTITION BY nation) AS n_obs
      |  FROM dev),
      |mad AS (
      |  SELECT nation,
      |    MAX(CASE WHEN rk = (n_obs + 1) // 2 THEN adev END) AS mad
      |  FROM r2 GROUP BY 1)
      |SELECT nation, m, cents, med, mad,
      |  round(CAST(adev AS DOUBLE) / (1.4826 * CAST(mad AS DOUBLE)), 6)
      |    + 0.0 AS robust_z
      |FROM dev JOIN mad USING (nation)
      |WHERE mad > 0 AND adev * 10000 >= 3 * 14826 * mad
      |ORDER BY nation, m""".stripMargin

  // --------------------------------------------------------------- q336
  /** Chain-linked monthly Laspeyres price index: each month's link is
    * Σp_m·q_{m−1} / Σp_{m−1}·q_{m−1} over parts traded in BOTH months
    * (prior-month basket weights), and the index is the running product
    * of links — how statistical agencies actually publish CPI (q304's
    * fixed-base index drifts as the basket ages; chaining re-weights
    * every month). The chain is carried in LOG space (a cumulative ln9
    * sum over the month census): on this synthetic basket the monthly
    * matched sample drifts hard (links ≈ 2), so the multiplicative
    * chain explodes past any absolute rounding grid, while the log
    * chain is an exact decimal at every month — the numerically honest
    * publication form (agencies chain in logs internally too).
    *
    * Exactness: per-(part, month) unit prices are q304's 9-dp decimal
    * convention; link numerators/denominators are exact decimal sums
    * with one double division; each ln collapses to the 9-dp grid, the
    * cumulative sum is exact decimal, and exp is absorbed by 6-dp
    * output rounding (q192's convention).
    *
    * Scale shape: one fact rollup to (part, month), one self-join on
    * (part, month−1) — an equi-join, co-partitionable — then a
    * |months|-row census for the chaining window (WindowGuard). */
  def q336ChainedIndex(spark: SparkSession, dir: String): DataFrame = {
    val byMonth = Kpis.table(spark, dir, "lineitem")
      .join(Kpis.table(spark, dir, "orders")
        .select(col("o_orderkey"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("m")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_partkey"), col("m"))
      .agg(sum(col("l_quantity")).as("qty_d"),
        sum(col("l_extendedprice").cast("decimal(18,4)")).as("ext"))
      .select(col("l_partkey"), col("m"),
        col("qty_d").cast("decimal(18,4)").as("q"),
        // (19,9): forces the int128 decimal path in DuckDB, whose
        // DECIMAL(18)x(18) multiply overflows at month-level magnitudes
        round(col("ext").cast("double") / col("qty_d"), 9)
          .cast("decimal(19,9)").as("p"))
    val prev = byMonth.select(col("l_partkey").as("pk0"),
      (col("m") + 1L).as("m0"), col("q").as("q0"), col("p").as("p0"))
    val links = byMonth
      .join(prev, col("l_partkey") === col("pk0") && col("m") === col("m0"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("p") * col("q0")).cast("double").as("num"),
        sum(col("p0") * col("q0")).cast("double").as("den"))
      .withColumn("lnlink",
        graft.functions.ExactMath.ln9(col("num") / col("den")))
    // chaining window over the |months| census (WindowGuardSpec)
    val cum = Window.orderBy(col("m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    links
      .withColumn("chained_ln", sum(col("lnlink")).over(cum))
      .select(col("m"), col("n_parts"),
        (round(col("num") / col("den"), 6) + lit(0.0)).as("link"),
        col("chained_ln").cast("double").as("chained_ln"))
      .orderBy("m")
  }

  val q336Sql: String =
    """WITH bym AS (
      |  SELECT l_partkey,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
      |      AS m,
      |    CAST(SUM(l_quantity) AS DECIMAL(18,4)) AS q,
      |    CAST(round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
      |        AS DOUBLE) / SUM(l_quantity), 9) AS DECIMAL(19,9)) AS p
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2),
      |links AS (
      |  SELECT c.m, COUNT(*) AS n_parts,
      |    CAST(SUM(c.p * b.q) AS DOUBLE) AS num,
      |    CAST(SUM(b.p * b.q) AS DOUBLE) AS den
      |  FROM bym c JOIN bym b
      |    ON c.l_partkey = b.l_partkey AND c.m = b.m + 1
      |  GROUP BY 1),
      |l2 AS (
      |  SELECT m, n_parts, num, den,
      |    CAST(round(ln(num / den), 9) AS DECIMAL(12,9)) AS lnlink
      |  FROM links)
      |SELECT m, n_parts,
      |  round(num / den, 6) + 0.0 AS link,
      |  CAST(SUM(lnlink) OVER (ORDER BY m
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS chained_ln
      |FROM l2 ORDER BY m""".stripMargin

  def q304PriceIndices(spark: SparkSession, dir: String): DataFrame = {
    val li = Kpis.table(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice"))
      .join(Kpis.table(spark, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("yr"))
        .filter(col("yr").isin(1996, 1997)),
        col("l_orderkey") === col("o_orderkey"))
    val byYear = li.groupBy(col("l_partkey"), col("yr"))
      .agg(sum(col("l_quantity")).as("qty_d"),
        sum((col("l_extendedprice")).cast("decimal(18,4)")).as("ext"))
      .select(col("l_partkey"), col("yr"),
        col("qty_d").cast("decimal(18,4)").as("q"),
        round(col("ext").cast("double") / col("qty_d"), 9)
          .cast("decimal(18,9)").as("p"))
    val base = byYear.filter(col("yr") === 1996)
      .select(col("l_partkey"), col("q").as("q0"), col("p").as("p0"))
    val cur = byYear.filter(col("yr") === 1997)
      .select(col("l_partkey").as("pk1"), col("q").as("q1"),
        col("p").as("p1"))
    val joined = base.join(cur, col("l_partkey") === col("pk1"))
    val agg = joined.agg(
      count(lit(1)).as("n_parts"),
      sum(col("p1") * col("q0")).cast("double").as("l_num"),
      sum(col("p0") * col("q0")).cast("double").as("l_den"),
      sum(col("p1") * col("q1")).cast("double").as("p_num"),
      sum(col("p0") * col("q1")).cast("double").as("p_den"))
    agg.select(col("n_parts"),
      (col("l_num") / col("l_den")).as("laspeyres"),
      (col("p_num") / col("p_den")).as("paasche"),
      sqrt((col("l_num") / col("l_den")) * (col("p_num") / col("p_den")))
        .as("fisher"))
  }

  val q304Sql: String =
    """WITH li AS (
      |  SELECT l_partkey, l_quantity, l_extendedprice,
      |    year(o_orderdate) AS yr
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE year(o_orderdate) IN (1996, 1997)),
      |by_year AS (
      |  SELECT l_partkey, yr,
      |    CAST(SUM(l_quantity) AS DECIMAL(18,4)) AS q,
      |    CAST(round(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
      |        AS VARCHAR) AS DOUBLE) / SUM(l_quantity), 9)
      |      AS DECIMAL(18,9)) AS p
      |  FROM li GROUP BY 1, 2),
      |j AS (
      |  SELECT b.l_partkey, b.q AS q0, b.p AS p0, c.q AS q1, c.p AS p1
      |  FROM (SELECT * FROM by_year WHERE yr = 1996) b
      |  JOIN (SELECT * FROM by_year WHERE yr = 1997) c USING (l_partkey)),
      |s AS (
      |  SELECT COUNT(*) AS n_parts,
      |    CAST(CAST(SUM(CAST(p1 AS DECIMAL(19,9)) * CAST(q0 AS DECIMAL(19,4)))
      |      AS VARCHAR) AS DOUBLE) AS l_num,
      |    CAST(CAST(SUM(CAST(p0 AS DECIMAL(19,9)) * CAST(q0 AS DECIMAL(19,4)))
      |      AS VARCHAR) AS DOUBLE) AS l_den,
      |    CAST(CAST(SUM(CAST(p1 AS DECIMAL(19,9)) * CAST(q1 AS DECIMAL(19,4)))
      |      AS VARCHAR) AS DOUBLE) AS p_num,
      |    CAST(CAST(SUM(CAST(p0 AS DECIMAL(19,9)) * CAST(q1 AS DECIMAL(19,4)))
      |      AS VARCHAR) AS DOUBLE) AS p_den
      |  FROM j)
      |SELECT n_parts,
      |  l_num / l_den AS laspeyres,
      |  p_num / p_den AS paasche,
      |  sqrt((l_num / l_den) * (p_num / p_den)) AS fisher
      |FROM s""".stripMargin

  // --------------------------------------------------------------- q305
  /** 4-4-5 fiscal-calendar revenue rollup — retail/finance close their
    * books on a 4-4-5 week grid (periods of 4, 4, then 5 whole weeks per
    * quarter), not calendar months, because it makes every period
    * contain a whole number of weekends and period-over-period comps
    * weekday-aligned. Fiscal years start Feb 1 (a fixture literal); each
    * order date maps to (fiscal_year, period 1–12) by pure integer
    * day/week arithmetic — the 53rd week of long fiscal years rolls into
    * period 12, the standard convention. No engine calendar functions
    * beyond year()/make_date, so there is no DOW/week-numbering
    * convention to disagree on.
    *
    * Exactness: all-integer date math and cents sums; one closing
    * division for period share.
    *
    * Scale shape: pure map-side expression then one (fy, period) agg —
    * zero extra shuffles, ≤ 12·|years| output rows. */
  def q305Fiscal445(spark: SparkSession, dir: String): DataFrame = {
    val d = to_date(col("o_orderdate"))
    val febStart = make_date(year(d), lit(2), lit(1))
    val fyStart = when(d >= febStart, febStart)
      .otherwise(make_date(year(d) - 1, lit(2), lit(1)))
    // Column `/` is true division — week/period arithmetic must stay on
    // the integer grid, hence the explicit floor()s
    val week = least(
      floor(datediff(d, fyStart).cast("long") / lit(7L)).cast("long") + 1L,
      lit(52L)) // 53rd week rolls into the final period
    val wq = (week - 1L) % 13L
    val periodInQ = when(wq < 4L, 1L).when(wq < 8L, 2L).otherwise(3L)
    val period =
      floor((week - 1L) / lit(13L)).cast("long") * 3L + periodInQ
    val grouped = Kpis.table(spark, dir, "orders")
      .select(year(fyStart).cast("long").as("fy"), period.as("period"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("fy"), col("period"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
    val fyTot = grouped.groupBy(col("fy").as("fy2"))
      .agg(sum(col("cents")).as("fy_cents"))
    grouped.join(broadcast(fyTot), col("fy") === col("fy2"))
      .select(col("fy"), col("period"), col("n_orders"), col("cents"),
        (col("cents").cast("double") / col("fy_cents").cast("double"))
          .as("fy_share"))
      .orderBy("fy", "period")
  }

  val q305Sql: String =
    """WITH base AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |fy AS (
      |  SELECT d, cents,
      |    CASE WHEN d >= make_date(year(d), 2, 1)
      |      THEN make_date(year(d), 2, 1)
      |      ELSE make_date(year(d) - 1, 2, 1) END AS fy_start
      |  FROM base),
      |wk AS (
      |  SELECT cents, CAST(year(fy_start) AS BIGINT) AS fy,
      |    LEAST(CAST(d - fy_start AS BIGINT) // 7 + 1, 52) AS week
      |  FROM fy),
      |per AS (
      |  SELECT cents, fy,
      |    ((week - 1) // 13) * 3 +
      |      (CASE WHEN (week - 1) % 13 < 4 THEN 1
      |            WHEN (week - 1) % 13 < 8 THEN 2 ELSE 3 END) AS period
      |  FROM wk),
      |g AS (
      |  SELECT fy, CAST(period AS BIGINT) AS period,
      |    COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS cents
      |  FROM per GROUP BY 1, 2),
      |t AS (SELECT fy, CAST(SUM(cents) AS BIGINT) AS fy_cents
      |  FROM g GROUP BY 1)
      |SELECT g.fy, g.period, g.n_orders, g.cents,
      |  CAST(g.cents AS DOUBLE) / CAST(t.fy_cents AS DOUBLE) AS fy_share
      |FROM g JOIN t USING (fy) ORDER BY fy, period""".stripMargin

  // --------------------------------------------------------------- q306
  /** ABC-XYZ inventory matrix — the standard two-axis stocking policy
    * grid: ABC slices parts by cumulative revenue share (q215's exact
    * integer-space running sum, same 80/95 cuts), XYZ by demand
    * VARIABILITY — coefficient of variation of monthly shipped quantity
    * over the full month span, zero months counted — cut at cv
    * TERCILES rather than the textbook 0.5/1.0 absolutes (on a sparse
    * order grid every part's cv exceeds 1.5 and fixed cuts degenerate
    * to all-Z; measured at sf0.01 before switching). The 3×3 census is
    * what stocking policy reads: AX = automate replenishment, CZ =
    * stock-to-order.
    *
    * Exactness: revenue in integer tenth-of-cents (q215's convention);
    * cv = √(M·Σq² − (Σq)²) / Σq with every operand an exact BIGINT —
    * one IEEE sqrt (correctly rounded) and one division; the tercile
    * NTILE orders by (cv, partkey) — identical doubles in, identical
    * tiles out.
    *
    * Scale shape: two part-keyed map-combinable aggs + the RangeRank
    * running sum over the parts census; 9-cell output. */
  def q306AbcXyz(spark: SparkSession, dir: String): DataFrame = {
    val li = Kpis.table(spark, dir, "lineitem")
    val perPart = li.groupBy(col("l_partkey"))
      .agg((sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).cast("decimal(18,4)") * lit(10000))
        .cast("long").as("rt"))
    val total = perPart.agg(sum(col("rt")).as("total"))
    val abc = graft.operators.RangeRank
      .withRunningSum(perPart, col("rt"), "cum",
        Seq(col("rt").desc, col("l_partkey")))
      .crossJoin(broadcast(total))
      .select(col("l_partkey"), col("rt"),
        when(col("cum") * 100 <= col("total") * 80, "A")
          .when(col("cum") * 100 <= col("total") * 95, "B")
          .otherwise("C").as("abc_class"),
        col("total"))
    val monthly = li
      .groupBy(col("l_partkey"), trunc(to_date(col("l_shipdate")), "month")
        .as("m"))
      .agg(sum(col("l_quantity")).cast("long").as("q"))
    val nm = monthly.select(col("m")).distinct()
      .agg(count(lit(1)).as("nm"))
    val cvNum = sqrt((col("nm") * col("sq2") - col("sq") * col("sq"))
      .cast("double"))
    val xyz = monthly.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("q")).as("sq"), sum(col("q") * col("q")).as("sq2"))
      .crossJoin(broadcast(nm))
      .select(col("pk"), (cvNum / col("sq").cast("double")).as("cv"))
      .withColumn("t", ntile(3).over(Window.orderBy(col("cv"), col("pk"))))
      .select(col("pk"),
        when(col("t") === 1, "X").when(col("t") === 2, "Y")
          .otherwise("Z").as("xyz_class"))
    abc.join(xyz, col("l_partkey") === col("pk"))
      .groupBy(col("abc_class"), col("xyz_class"))
      .agg(count(lit(1)).as("n_parts"),
        (sum(col("rt")).cast("double") / max(col("total")).cast("double"))
          .as("revenue_share"))
      .orderBy("abc_class", "xyz_class")
  }

  val q306Sql: String =
    """WITH per_part AS (
      |  SELECT l_partkey,
      |    CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
      |      AS DECIMAL(18,4))) AS DECIMAL(18,4)) * 10000 AS BIGINT) AS rt
      |  FROM lineitem GROUP BY 1),
      |tot AS (SELECT CAST(SUM(rt) AS BIGINT) AS total FROM per_part),
      |abc AS (
      |  SELECT l_partkey, rt,
      |    CAST(SUM(rt) OVER (ORDER BY rt DESC, l_partkey
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM per_part),
      |cls AS (
      |  SELECT l_partkey, rt,
      |    CASE WHEN cum * 100 <= total * 80 THEN 'A'
      |         WHEN cum * 100 <= total * 95 THEN 'B'
      |         ELSE 'C' END AS abc_class
      |  FROM abc, tot),
      |mon AS (
      |  SELECT l_partkey, date_trunc('month', CAST(l_shipdate AS DATE))
      |      AS m,
      |    CAST(SUM(l_quantity) AS BIGINT) AS q
      |  FROM lineitem GROUP BY 1, 2),
      |mm AS (SELECT COUNT(DISTINCT m) AS nm FROM mon),
      |cv AS (
      |  SELECT l_partkey,
      |    sqrt(CAST(nm * sq2 - sq * sq AS DOUBLE))
      |      / CAST(sq AS DOUBLE) AS cv
      |  FROM (SELECT l_partkey, CAST(SUM(q) AS BIGINT) AS sq,
      |          CAST(SUM(q * q) AS BIGINT) AS sq2
      |        FROM mon GROUP BY 1), mm),
      |xyz AS (
      |  SELECT l_partkey,
      |    CASE t WHEN 1 THEN 'X' WHEN 2 THEN 'Y' ELSE 'Z' END
      |      AS xyz_class
      |  FROM (SELECT l_partkey,
      |          NTILE(3) OVER (ORDER BY cv, l_partkey) AS t
      |        FROM cv))
      |SELECT abc_class, xyz_class, COUNT(*) AS n_parts,
      |  CAST(SUM(rt) AS DOUBLE) / CAST(MAX(tot.total) AS DOUBLE)
      |    AS revenue_share
      |FROM cls JOIN xyz USING (l_partkey), tot
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q313
  /** Price-drop event study: find every consecutive-month (part, month)
    * pair where the unit price fell ≥10%, pool the quantity response
    * (Σ after / Σ before over event pairs), and compare against the
    * SAME ratio over all non-event consecutive pairs — the control that
    * turns a raw before/after into an uplift estimate (q199 fits a
    * continuous discount elasticity; this is its discrete-event
    * counterpart, the pre/post design every promotions team runs).
    * relative_uplift > 1 means quantity responded to price drops beyond
    * the secular month-over-month drift.
    *
    * Exactness: unit prices on the 9-dp grid (q304's boundary lesson);
    * the 10% trigger compares identically-derived doubles; quantities
    * are exact integer sums and all four pooled ratios are single
    * closing divisions.
    *
    * Scale shape: one (part, month) agg, one PARTITIONED lag window per
    * part, one map-combinable global reduce to a single row. */
  def q313PriceDropStudy(spark: SparkSession, dir: String): DataFrame = {
    val pm = Kpis.table(spark, dir, "lineitem")
      .groupBy(col("l_partkey"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
          .cast("long").as("idx"))
      .agg(sum(col("l_quantity")).cast("long").as("q"),
        sum(col("l_extendedprice").cast("decimal(18,4)")).as("ext"))
      .withColumn("up",
        round(col("ext").cast("double") / col("q").cast("double"), 9))
    val w = Window.partitionBy(col("l_partkey")).orderBy(col("idx"))
    val pairs = pm
      .withColumn("prev_idx", lag(col("idx"), 1).over(w))
      .withColumn("prev_q", lag(col("q"), 1).over(w))
      .withColumn("prev_up", lag(col("up"), 1).over(w))
      .filter(col("prev_idx").isNotNull && col("idx") === col("prev_idx") + 1)
      .withColumn("is_event", col("up") <= col("prev_up") * lit(0.9))
    pairs.agg(
        sum(when(col("is_event"), 1L).otherwise(0L)).as("n_event_pairs"),
        sum(when(!col("is_event"), 1L).otherwise(0L)).as("n_control_pairs"),
        sum(when(col("is_event"), col("prev_q")).otherwise(0L))
          .as("event_before"),
        sum(when(col("is_event"), col("q")).otherwise(0L)).as("event_after"),
        sum(when(!col("is_event"), col("prev_q")).otherwise(0L))
          .as("control_before"),
        sum(when(!col("is_event"), col("q")).otherwise(0L))
          .as("control_after"))
      .select(col("n_event_pairs"), col("n_control_pairs"),
        col("event_before"), col("event_after"),
        (col("event_after").cast("double") /
          col("event_before").cast("double")).as("event_ratio"),
        (col("control_after").cast("double") /
          col("control_before").cast("double")).as("control_ratio"),
        ((col("event_after").cast("double") /
          col("event_before").cast("double")) /
          (col("control_after").cast("double") /
            col("control_before").cast("double"))).as("relative_uplift"))
  }

  val q313Sql: String =
    """WITH pm AS (
      |  SELECT l_partkey,
      |    CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT)
      |      AS idx,
      |    CAST(SUM(l_quantity) AS BIGINT) AS q,
      |    round(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
      |      AS VARCHAR) AS DOUBLE) / CAST(SUM(l_quantity) AS DOUBLE), 9)
      |      AS up
      |  FROM lineitem GROUP BY 1, 2),
      |pairs AS (
      |  SELECT *,
      |    LAG(idx) OVER w AS prev_idx,
      |    LAG(q) OVER w AS prev_q,
      |    LAG(up) OVER w AS prev_up
      |  FROM pm WINDOW w AS (PARTITION BY l_partkey ORDER BY idx)),
      |f AS (
      |  SELECT *, up <= prev_up * 0.9 AS is_event
      |  FROM pairs
      |  WHERE prev_idx IS NOT NULL AND idx = prev_idx + 1),
      |s AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_event_pairs,
      |    CAST(SUM(CASE WHEN is_event THEN 0 ELSE 1 END) AS BIGINT)
      |      AS n_control_pairs,
      |    CAST(SUM(CASE WHEN is_event THEN prev_q ELSE 0 END) AS BIGINT)
      |      AS event_before,
      |    CAST(SUM(CASE WHEN is_event THEN q ELSE 0 END) AS BIGINT)
      |      AS event_after,
      |    CAST(SUM(CASE WHEN is_event THEN 0 ELSE prev_q END) AS BIGINT)
      |      AS control_before,
      |    CAST(SUM(CASE WHEN is_event THEN 0 ELSE q END) AS BIGINT)
      |      AS control_after
      |  FROM f)
      |SELECT n_event_pairs, n_control_pairs, event_before, event_after,
      |  CAST(event_after AS DOUBLE) / CAST(event_before AS DOUBLE)
      |    AS event_ratio,
      |  CAST(control_after AS DOUBLE) / CAST(control_before AS DOUBLE)
      |    AS control_ratio,
      |  (CAST(event_after AS DOUBLE) / CAST(event_before AS DOUBLE))
      |    / (CAST(control_after AS DOUBLE) / CAST(control_before AS DOUBLE))
      |    AS relative_uplift
      |FROM s""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q335_revenue_fan", q335RevenueFan _, q335Sql),
    Query("q337_revenue_anomalies", q337RevenueAnomalies _, q337Sql),
    Query("q336_chained_index", q336ChainedIndex _, q336Sql),
    Query("q313_price_drop_study", q313PriceDropStudy _, q313Sql),
    Query("q305_fiscal_445", q305Fiscal445 _, q305Sql),
    Query("q306_abc_xyz", q306AbcXyz _, q306Sql),
    Query("q304_price_indices", q304PriceIndices _, q304Sql),
    Query("q273_nation_cagr", q273NationCagr _, q273Sql),
    Query("q267_diversity_profile", q267DiversityProfile _, q267Sql),
    Query("q256_theil_decomposition", q256TheilDecomposition _, q256Sql),
    Query("q255_segment_migration", q255SegmentMigration _, q255Sql),
    Query("q252_revenue_bridge", q252RevenueBridge _, q252Sql),
    Query("q227_price_index", q227PriceIndex _, q227Sql),
    Query("q215_abc_classification", q215AbcClassification _, q215Sql),
    Query("q135_ohlc_hourly", q135OhlcHourly _, q135Sql),
    Query("q136_twap_value", q136TwapValue _, q136Sql),
    Query("q139_rfm_segments", q139RfmSegments _, q139Sql),
    Query("q143_revenue_deciles", q143RevenueDeciles _, q143Sql),
    Query("q174_nation_gini", q174NationGini _, q174Sql),
    Query("q185_churn_risk", q185ChurnRisk _, q185Sql),
    Query("q201_trajectory_census", q201TrajectoryCensus _, q201Sql),
    Query("q206_lift_curve", q206LiftCurve _, q206Sql))

  // --------------------------------------------------------------- q174
  /** Gini coefficient of customer spend per nation — the inequality
    * summary behind q143's decile view: one number per market saying how
    * concentrated revenue is (0 = equal, →1 = one customer is the
    * market). Uses the exact rank formula over ascending spend:
    * G = (2·Σ r·x − (n+1)·Σx) / (n·Σx).
    *
    * Exactness: per-customer spend is the exact decimal rollup (q139's
    * monetary); the rank weight r is DECIMAL(8,0), so every r·x product
    * is an exact (27,4)/(26,4) decimal and both Σ terms stay exact until
    * the single double chain per nation. Ranks order by (spend,
    * custkey) — a total order, so tied spends get deterministic ranks
    * and the SAME G on both engines.
    *
    * Scale shape: orders collapse to the per-customer entity table in
    * one map-combinable agg; the nation and customer joins are
    * broadcast-able dims; the rank window is PARTITIONED by nation — 25
    * parallel sorts over entity-scale slices, no global window. If one
    * nation's customer count outgrew a partition, the same formula runs
    * on [[graft.operators.RangeRank.withGlobalRank]] per nation — the
    * q139/q143 migration path. */
  def q174NationGini(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Kpis.table(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).cast("decimal(18,4)")
        .as("spend"))
    val cust = Kpis.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val nat = Kpis.table(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val w = Window.partitionBy(col("n_name"))
      .orderBy(col("spend"), col("o_custkey"))
    perCust
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .withColumn("r", row_number().over(w).cast("decimal(8,0)"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("spend")).cast("decimal(28,4)").as("sx"),
        sum(col("r") * col("spend")).cast("decimal(28,4)").as("srx"))
      .select(col("n_name"), col("n_customers"),
        col("sx").cast("double").as("total_spend"),
        ((lit(2.0) * col("srx").cast("double") -
          (col("n_customers").cast("double") + lit(1.0)) *
            col("sx").cast("double")) /
          (col("n_customers").cast("double") * col("sx").cast("double")))
          .as("gini"))
      .orderBy("n_name")
  }

  val q174Sql: String =
    """WITH per_cust AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4))
      |      AS spend
      |  FROM orders GROUP BY 1),
      |ranked AS (
      |  SELECT n_name, spend, o_custkey,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY n_name
      |      ORDER BY spend, o_custkey) AS DECIMAL(8,0)) AS r
      |  FROM per_cust
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey),
      |agg AS (
      |  SELECT n_name, COUNT(*) AS n_customers,
      |    CAST(SUM(spend) AS DECIMAL(28,4)) AS sx,
      |    CAST(SUM(r * spend) AS DECIMAL(28,4)) AS srx
      |  FROM ranked GROUP BY 1)
      |SELECT n_name, n_customers, CAST(sx AS DOUBLE) AS total_spend,
      |  (2.0 * CAST(srx AS DOUBLE) -
      |    (CAST(n_customers AS DOUBLE) + 1.0) * CAST(sx AS DOUBLE)) /
      |    (CAST(n_customers AS DOUBLE) * CAST(sx AS DOUBLE)) AS gini
      |FROM agg ORDER BY n_name""".stripMargin

  // --------------------------------------------------------------- q185
  /** Personalized churn-risk census per market segment: a repeat
    * customer is "overdue" when the time since their last order exceeds
    * 2× their OWN mean inter-order cadence — the data-driven version of
    * q110's fixed idle threshold, and the number a retention team
    * actually pages on (a weekly buyer gone 3 weeks is churning; a
    * yearly buyer gone 3 weeks is fine). q139 scores recency against
    * the population; this scores it against each customer's history.
    *
    * Exactness: ALL-INTEGER — the overdue predicate cross-multiplies to
    * (n−1)·days_since > 2·(last−first) in whole days, so there is no
    * division anywhere before the final rate; day differences are exact
    * DATE arithmetic in both engines. Mean cadence never materializes.
    *
    * Scale shape: one map-combinable rollup of orders to the customer
    * entity grain, a 1-row max-date broadcast, a broadcast-able customer
    * dim join, and a |segments|-row census. No window at all. */
  def q185ChurnRisk(spark: SparkSession, dir: String): DataFrame = {
    val o = Kpis.table(spark, dir, "orders")
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("od"))
    val per = o.groupBy(col("o_custkey"))
      .agg(min(col("od")).as("first_od"), max(col("od")).as("last_od"),
        count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 2)
    val mx = o.agg(max(col("od")).as("corpus_max"))
    val seg = Kpis.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    per.crossJoin(broadcast(mx))
      .withColumn("days_since", datediff(col("corpus_max"), col("last_od")))
      .withColumn("span_days", datediff(col("last_od"), col("first_od")))
      .withColumn("overdue",
        (col("n_orders") - 1) * col("days_since") > lit(2) * col("span_days"))
      .join(seg, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_repeat_customers"),
        sum(when(col("overdue"), 1L).otherwise(0L)).as("n_overdue"),
        (sum(when(col("overdue"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("overdue_rate"),
        (sum(col("days_since")).cast("double") /
          count(lit(1)).cast("double")).as("avg_days_since_last"))
      .orderBy("c_mktsegment")
  }

  val q185Sql: String =
    """WITH o AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od FROM orders),
      |per AS (
      |  SELECT o_custkey, MIN(od) AS first_od, MAX(od) AS last_od,
      |    COUNT(*) AS n_orders
      |  FROM o GROUP BY 1 HAVING COUNT(*) >= 2),
      |mx AS (SELECT MAX(od) AS corpus_max FROM o),
      |f AS (
      |  SELECT c_mktsegment,
      |    date_diff('day', last_od, corpus_max) AS days_since,
      |    (n_orders - 1) * date_diff('day', last_od, corpus_max)
      |      > 2 * date_diff('day', first_od, last_od) AS overdue
      |  FROM per CROSS JOIN mx
      |  JOIN customer ON o_custkey = c_custkey)
      |SELECT c_mktsegment, COUNT(*) AS n_repeat_customers,
      |  CAST(SUM(CASE WHEN overdue THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_overdue,
      |  CAST(SUM(CASE WHEN overdue THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(COUNT(*) AS DOUBLE) AS overdue_rate,
      |  CAST(SUM(days_since) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |    AS avg_days_since_last
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q201
  /** Customer trajectory census — a tiny OLS regression PER CUSTOMER
    * (order value against order index), reduced to the sign of the
    * slope and rolled up per market segment: how many repeat customers
    * are spending more over time, fewer, or flat. The "millions of tiny
    * models" pattern: the regression never materializes — only its
    * closed-form numerator n·Σxy − Σx·Σy, whose SIGN is the answer, so
    * the whole thing is exact integer/decimal arithmetic with no
    * division anywhere (no float, no rounding, hash-safe by
    * construction). q185 asks "who went quiet"; this asks "who is
    * ramping" — the expansion-revenue metric.
    *
    * Scale shape: one key-partitioned window for the order index
    * (customers process independently), one map-combinable per-customer
    * agg, one census agg to |segments| rows. */
  def q201TrajectoryCensus(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val perCust = Kpis.table(spark, dir, "orders")
      .select(col("o_custkey"),
        row_number().over(w).cast("decimal(8,0)").as("x"),
        col("o_totalprice").cast("decimal(18,4)").as("y"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast("decimal(8,0)").as("sx"),
        sum(col("y")).cast("decimal(28,4)").as("sy"),
        sum(col("x") * col("y")).cast("decimal(28,4)").as("sxy"))
      .filter(col("n") >= 3)
      // n and sx are narrowed to DECIMAL(8,0) BEFORE the multiplies:
      // bigint x decimal(28,4) widens past 38 digits in both engines
      // (Spark trims scale, DuckDB errors) — the ExactMath width rule
      .withColumn("numer",
        col("n").cast("decimal(8,0)") * col("sxy") -
          col("sx") * col("sy"))
    val seg = Kpis.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    perCust.join(seg, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_repeat_customers"),
        sum(when(col("numer") > 0, 1L).otherwise(0L)).as("n_growing"),
        sum(when(col("numer") < 0, 1L).otherwise(0L)).as("n_shrinking"),
        sum(when(col("numer") === 0, 1L).otherwise(0L)).as("n_flat"))
      .withColumn("growing_share",
        col("n_growing").cast("double") /
          col("n_repeat_customers").cast("double"))
      .orderBy("c_mktsegment")
  }

  val q201Sql: String =
    """WITH r AS (
      |  SELECT o_custkey,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS DECIMAL(8,0)) AS x,
      |    CAST(o_totalprice AS DECIMAL(18,4)) AS y
      |  FROM orders),
      |pc AS (
      |  SELECT o_custkey, COUNT(*) AS n,
      |    CAST(SUM(x) AS DECIMAL(8,0)) AS sx,
      |    CAST(SUM(y) AS DECIMAL(28,4)) AS sy,
      |    CAST(SUM(x * y) AS DECIMAL(28,4)) AS sxy
      |  FROM r GROUP BY 1 HAVING COUNT(*) >= 3),
      |num AS (
      |  SELECT o_custkey,
      |    CAST(n AS DECIMAL(8,0)) * sxy - sx * sy AS numer
      |  FROM pc)
      |SELECT c_mktsegment, COUNT(*) AS n_repeat_customers,
      |  CAST(SUM(CASE WHEN numer > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_growing,
      |  CAST(SUM(CASE WHEN numer < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_shrinking,
      |  CAST(SUM(CASE WHEN numer = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_flat,
      |  CAST(SUM(CASE WHEN numer > 0 THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(COUNT(*) AS DOUBLE) AS growing_share
      |FROM num JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin
}
