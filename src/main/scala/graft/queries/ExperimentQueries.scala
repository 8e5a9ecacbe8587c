package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query

/** Experiment (A/B) analysis over the event stream — the product-analytics
  * primitive that turns raw events into a ship/no-ship decision. Variant
  * assignment is DETERMINISTIC hashing (md5 of the user id, the q30-proven
  * cross-engine hash), so the "experiment" is replayable on both engines
  * with no stored assignment table — exactly how large experimentation
  * platforms bucket users (hash(unit_id, salt) mod buckets), minus the salt.
  */
object ExperimentQueries {

  // --------------------------------------------------------------- q129
  /** Two-sample Welch z-test on per-user purchase counts between
    * hash-assigned variants A/B: per-arm user counts, exact sums and
    * sums-of-squares of the metric, means, and the z statistic.
    *
    * Assignment: first hex digit of md5(user_id) < '8' → A (50/50 split
    * in expectation, deterministic per user). Both engines emit lowercase
    * hex md5 and compare strings identically.
    *
    * Metric: a COUNT, not a 0/1 conversion flag — on this corpus every
    * user eventually purchases, so a binary-conversion z-test is
    * degenerate (pooled variance 0, division by zero). Counts carry real
    * variance at any scale.
    *
    * Exactness: every input to the float stage is an exact BIGINT sum
    * (Σx, Σx² per arm); the mean/variance/z chain is then the SAME
    * double-op sequence spelled on both sides (parenthesized
    * identically), so it is bit-exact — the q69/q72 closed-form
    * convention applied to hypothesis testing. Sample variance uses the
    * n−1 closed form var = (Σx² − (Σx)²/n)/(n−1).
    *
    * Scale shape: one shuffle (user_id grain pre-aggregate, map-side
    * partials), then a single-row global aggregate — the classic
    * two-level "reduce to per-unit, then to per-arm" experiment plan.
    * Nothing about it changes at 10⁹ users; the per-user frame is the
    * same one funnel/retention (q86/q87) build. */
  def q129AbTest(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Kpis.eventsTable(spark, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", lit(1L))
        .otherwise(lit(0L))).as("purchases"))
      .withColumn("is_a",
        substring(md5(col("user_id").cast("string")), 1, 1) < "8")
    val counts = perUser.agg(
      sum(when(col("is_a"), lit(1L)).otherwise(lit(0L))).as("n_a"),
      sum(when(!col("is_a"), lit(1L)).otherwise(lit(0L))).as("n_b"),
      sum(when(col("is_a"), col("purchases")).otherwise(lit(0L)))
        .as("s_a"),
      sum(when(!col("is_a"), col("purchases")).otherwise(lit(0L)))
        .as("s_b"),
      sum(when(col("is_a"), col("purchases") * col("purchases"))
        .otherwise(lit(0L))).as("ss_a"),
      sum(when(!col("is_a"), col("purchases") * col("purchases"))
        .otherwise(lit(0L))).as("ss_b"))
    counts
      .withColumn("mean_a",
        col("s_a").cast("double") / col("n_a").cast("double"))
      .withColumn("mean_b",
        col("s_b").cast("double") / col("n_b").cast("double"))
      .withColumn("var_a",
        (col("ss_a").cast("double") -
          (col("s_a").cast("double") * col("s_a").cast("double")) /
            col("n_a").cast("double")) /
          (col("n_a").cast("double") - lit(1.0)))
      .withColumn("var_b",
        (col("ss_b").cast("double") -
          (col("s_b").cast("double") * col("s_b").cast("double")) /
            col("n_b").cast("double")) /
          (col("n_b").cast("double") - lit(1.0)))
      .withColumn("z_score",
        (col("mean_a") - col("mean_b")) /
          sqrt(col("var_a") / col("n_a").cast("double") +
            col("var_b") / col("n_b").cast("double")))
      .select(col("n_a"), col("n_b"), col("s_a"), col("s_b"),
        col("mean_a"), col("mean_b"), col("z_score"))
  }

  val q129Sql: String =
    """WITH pu AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |         AS BIGINT) AS purchases,
      |    substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' AS is_a
      |  FROM events GROUP BY user_id),
      |s AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(SUM(CASE WHEN is_a THEN purchases ELSE 0 END) AS BIGINT)
      |      AS s_a,
      |    CAST(SUM(CASE WHEN NOT is_a THEN purchases ELSE 0 END) AS BIGINT)
      |      AS s_b,
      |    CAST(SUM(CASE WHEN is_a THEN purchases * purchases ELSE 0 END)
      |      AS BIGINT) AS ss_a,
      |    CAST(SUM(CASE WHEN NOT is_a THEN purchases * purchases ELSE 0 END)
      |      AS BIGINT) AS ss_b
      |  FROM pu),
      |r AS (
      |  SELECT *,
      |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
      |    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
      |    (CAST(ss_a AS DOUBLE) -
      |      (CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)) /
      |        CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0) AS var_a,
      |    (CAST(ss_b AS DOUBLE) -
      |      (CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)) /
      |        CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0) AS var_b
      |  FROM s)
      |SELECT n_a, n_b, s_a, s_b, mean_a, mean_b,
      |  (mean_a - mean_b) /
      |    sqrt(var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE))
      |    AS z_score
      |FROM r""".stripMargin

  // --------------------------------------------------------------- q150
  /** Exact two-sample Kolmogorov–Smirnov statistic between the value
    * distributions of 'click' and 'purchase' events: D = max over the
    * observed support of |F_click(x) − F_purchase(x)|, with the
    * smallest value attaining it. The standard distribution-drift gate
    * (did this batch's metric distribution shift?) — q129 compares
    * MEANS; KS sees shape changes a mean test is blind to.
    *
    * Exactness: the joint census holds integer counts; cumulative
    * counts are integer window sums over the census; each CDF value is
    * one double division of exact integers, and the argmax selection
    * filters on EXACT equality with the window max — safe because both
    * engines computed every d through the identical op chain — with
    * min(v) as the tie-break.
    *
    * Scale shape: q127's census discipline again — the fact collapses
    * to per-distinct-value counts in ONE map-combinable agg (4-dp
    * values bound the census regardless of row count), and every
    * window runs over the census ordered by value. A truly continuous
    * metric would route through the q117 sketch grid instead. */
  def q150KsDrift(spark: SparkSession, dir: String): DataFrame = {
    val census = graft.queries.Kpis.eventsTable(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("value").cast("decimal(18,4)").as("v"))
      .agg(
        sum(when(col("event_type") === "click", lit(1L)).otherwise(lit(0L)))
          .as("c1"),
        sum(when(col("event_type") === "purchase", lit(1L))
          .otherwise(lit(0L))).as("c2"))
    val cum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    census
      .withColumn("f1", sum(col("c1")).over(cum).cast("double") /
        sum(col("c1")).over(tot).cast("double"))
      .withColumn("f2", sum(col("c2")).over(cum).cast("double") /
        sum(col("c2")).over(tot).cast("double"))
      .withColumn("n1", sum(col("c1")).over(tot))
      .withColumn("n2", sum(col("c2")).over(tot))
      .select(col("n1"), col("n2"),
        abs(col("f1") - col("f2")).as("d"), col("v"))
      .withColumn("ks", max(col("d")).over(Window.partitionBy()))
      .filter(col("d") === col("ks"))
      .groupBy(col("n1"), col("n2"), col("ks").as("ks_stat"))
      .agg(min(col("v")).cast("double").as("ks_at_value"))
      .select("n1", "n2", "ks_stat", "ks_at_value")
  }

  val q150Sql: String =
    """WITH census AS (
      |  SELECT CAST(value AS DECIMAL(18,4)) AS v,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |  GROUP BY 1),
      |cw AS (
      |  SELECT v,
      |    CAST(SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
      |         AS DOUBLE) / CAST(SUM(c1) OVER () AS DOUBLE) AS f1,
      |    CAST(SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
      |         AS DOUBLE) / CAST(SUM(c2) OVER () AS DOUBLE) AS f2,
      |    CAST(SUM(c1) OVER () AS BIGINT) AS n1,
      |    CAST(SUM(c2) OVER () AS BIGINT) AS n2
      |  FROM census),
      |d AS (SELECT n1, n2, abs(f1 - f2) AS d, v FROM cw),
      |k AS (SELECT *, MAX(d) OVER () AS ks FROM d)
      |SELECT n1, n2, ks AS ks_stat,
      |  CAST(MIN(v) AS DOUBLE) AS ks_at_value
      |FROM k WHERE d = ks GROUP BY 1, 2, 3""".stripMargin

  // --------------------------------------------------------------- q172
  /** Permutation test for the q129 A/B mean difference: 64 deterministic
    * re-randomizations of the per-user variant assignment (bit b of the
    * user = first hex digit of md5(user_id ∥ '_' ∥ b) < '8'), each
    * producing a mean-difference under the null; the reported p-value is
    * the add-one-smoothed fraction of permutations whose |difference|
    * reaches the observed one. The distribution-free companion to q129's
    * Welch z — no normality assumption, just exchangeability, which the
    * hash-assignment makes literally true.
    *
    * Exactness: every permutation's difference comes from exact BIGINT
    * (n, Σx) per arm and ONE double chain spelled identically in the
    * twin (q129's convention ×65); the exceedance comparison is between
    * doubles both engines computed through identical op sequences, so
    * the count — and hence the p-value — is deterministic cross-engine.
    *
    * Scale shape: the fact stream collapses to the per-user entity table
    * once (q129's first shuffle); the 64-way explode multiplies ENTITY
    * rows, not events, and feeds one map-combinable agg down to 64 rows.
    * Linear with a 64× constant on the entity table — the exact-replay
    * certification tier; a production gate at 10⁹ users keeps B modest
    * or falls back to q129's closed form. */
  def q172PermutationTest(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Kpis.eventsTable(spark, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", lit(1L))
        .otherwise(lit(0L))).as("purchases"))
      .localCheckpoint(true)
    def armAgg(isA: Column): Seq[(Column, String)] = Seq(
      (sum(when(isA, lit(1L)).otherwise(lit(0L))), "n_a"),
      (sum(lit(1L)), "n"),
      (sum(when(isA, col("purchases")).otherwise(lit(0L))), "s_a"),
      (sum(col("purchases")), "s"))
    // reads the arm-agg columns (n_a, n, s_a, s) of the frame it is
    // selected against
    val diff: Column =
      (col("s_a").cast("double") / col("n_a").cast("double")) -
        ((col("s") - col("s_a")).cast("double") /
          (col("n") - col("n_a")).cast("double"))
    val obsIsA = substring(md5(col("user_id").cast("string")), 1, 1) < "8"
    val obsAggs = armAgg(obsIsA).map { case (c, n) => c.as(n) }
    val obs = perUser.agg(obsAggs.head, obsAggs.tail: _*)
      .select(abs(diff).as("obs_abs_diff"),
        col("n").as("n_users"))
    val permIsA = substring(md5(concat(col("user_id").cast("string"),
      lit("_"), col("b").cast("string"))), 1, 1) < "8"
    val permAggs = armAgg(permIsA).map { case (c, n) => c.as(n) }
    val perms = perUser
      .select(col("user_id"), col("purchases"),
        explode(sequence(lit(0), lit(63))).as("b"))
      .groupBy(col("b"))
      .agg(permAggs.head, permAggs.tail: _*)
      .select(col("b"), abs(diff).as("abs_diff"))
    perms.crossJoin(broadcast(obs))
      .agg(
        max(col("n_users")).as("n_users"),
        max(col("obs_abs_diff")).as("obs_abs_diff"),
        count(lit(1)).as("n_perms"),
        sum(when(col("abs_diff") >= col("obs_abs_diff"), lit(1L))
          .otherwise(lit(0L))).as("n_exceed"))
      .withColumn("p_value",
        (col("n_exceed").cast("double") + lit(1.0)) /
          (col("n_perms").cast("double") + lit(1.0)))
  }

  val q172Sql: String =
    """WITH pu AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |         AS BIGINT) AS purchases
      |  FROM events GROUP BY user_id),
      |obs AS (
      |  SELECT
      |    abs((CAST(SUM(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
      |                        < '8' THEN purchases ELSE 0 END) AS DOUBLE) /
      |         CAST(SUM(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
      |                        < '8' THEN 1 ELSE 0 END) AS DOUBLE)) -
      |        (CAST(SUM(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
      |                        < '8' THEN 0 ELSE purchases END) AS DOUBLE) /
      |         CAST(SUM(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
      |                        < '8' THEN 0 ELSE 1 END) AS DOUBLE)))
      |      AS obs_abs_diff,
      |    CAST(COUNT(*) AS BIGINT) AS n_users
      |  FROM pu),
      |perms AS (
      |  SELECT b,
      |    abs((CAST(SUM(CASE WHEN flip THEN purchases ELSE 0 END) AS DOUBLE) /
      |         CAST(SUM(CASE WHEN flip THEN 1 ELSE 0 END) AS DOUBLE)) -
      |        (CAST(SUM(CASE WHEN flip THEN 0 ELSE purchases END) AS DOUBLE) /
      |         CAST(SUM(CASE WHEN flip THEN 0 ELSE 1 END) AS DOUBLE)))
      |      AS abs_diff
      |  FROM (
      |    SELECT pu.*, g.b,
      |      substr(md5(CAST(user_id AS VARCHAR) || '_' ||
      |                 CAST(g.b AS VARCHAR)), 1, 1) < '8' AS flip
      |    FROM pu CROSS JOIN
      |      (SELECT unnest(generate_series(0, 63)) AS b) g)
      |  GROUP BY b)
      |SELECT MAX(n_users) AS n_users,
      |  MAX(obs_abs_diff) AS obs_abs_diff,
      |  CAST(COUNT(*) AS BIGINT) AS n_perms,
      |  CAST(SUM(CASE WHEN abs_diff >= obs_abs_diff THEN 1 ELSE 0 END)
      |       AS BIGINT) AS n_exceed,
      |  (CAST(SUM(CASE WHEN abs_diff >= obs_abs_diff THEN 1 ELSE 0 END)
      |        AS DOUBLE) + 1.0) / (CAST(COUNT(*) AS DOUBLE) + 1.0) AS p_value
      |FROM perms CROSS JOIN obs""".stripMargin

  // --------------------------------------------------------------- q203
  /** Exact tie-corrected Mann–Whitney U test: do RETURNED lineitems
    * (l_returnflag 'R') ship systematically different quantities than
    * delivered ones ('N')? The rank-based two-sample companion to q129
    * (means) and q150 (CDF shape): U is the number of (returned,
    * delivered) pairs where the returned quantity is larger, counting
    * ties half — robust to outliers a t-test would chase.
    *
    * Exactness: the fact collapses to a per-quantity census (cA, cB);
    * 2·U = Σ_v cA(v)·(2·Σ_{w<v} cB(w) + cB(v)) is an exact DECIMAL sum
    * (no halves: everything is doubled), the tie term Σ(t³−t) likewise;
    * the normal-approximation z is then a single double expression over
    * those exact integers, spelled identically in both engines, with the
    * −0.0 guard on the rounded output.
    *
    * Scale shape: ONE map-combinable agg collapses the fact to its
    * value census (|distinct l_quantity| = 50 — domain-bounded like
    * q150's 4-dp grid), and the cumulative window + final reduction run
    * over the census only. Counts are cast to DECIMAL(12,0)/(18,0)
    * before multiplying so products stay exact past BIGINT range at
    * 100 TB row counts (DuckDB caps decimal width at 38, so the casts
    * keep both engines inside p1+p2 ≤ 38). */
  def q203MannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val census = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_returnflag").isin("R", "N"))
      .groupBy(col("l_quantity").cast("decimal(18,2)").as("v"))
      .agg(
        sum(when(col("l_returnflag") === "R", lit(1L)).otherwise(lit(0L)))
          .as("ca"),
        sum(when(col("l_returnflag") === "N", lit(1L)).otherwise(lit(0L)))
          .as("cb"))
    val cumBefore = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val terms = census
      .withColumn("cumb", coalesce(sum(col("cb")).over(cumBefore), lit(0L)))
      .select(
        col("ca"), col("cb"),
        (col("ca").cast("decimal(12,0)") *
          (lit(2) * col("cumb") + col("cb")).cast("decimal(18,0)"))
          .as("u2term"),
        ((col("ca") + col("cb")).cast("decimal(12,0)") *
          (col("ca") + col("cb")).cast("decimal(12,0)") *
          (col("ca") + col("cb")).cast("decimal(12,0)") -
          (col("ca") + col("cb")).cast("decimal(12,0)")).as("t3term"))
    terms
      .agg(
        sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
        sum(col("u2term")).as("u2"), sum(col("t3term")).as("t3t"))
      .select(
        col("n_a"), col("n_b"),
        (col("u2").cast("double") / lit(2.0)).as("u_stat"),
        (round(
          (col("u2").cast("double") -
            col("n_a").cast("double") * col("n_b").cast("double")) /
            (lit(2.0) * sqrt(
              (col("n_a").cast("double") * col("n_b").cast("double") /
                lit(12.0)) *
                ((col("n_a") + col("n_b") + lit(1)).cast("double") -
                  col("t3t").cast("double") /
                    ((col("n_a") + col("n_b")).cast("double") *
                      (col("n_a") + col("n_b") - lit(1)).cast("double"))))),
          6) + lit(0.0)).as("z_score"))
  }

  val q203Sql: String =
    """WITH census AS (
      |  SELECT CAST(l_quantity AS DECIMAL(18,2)) AS v,
      |    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ca,
      |    SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS cb
      |  FROM lineitem WHERE l_returnflag IN ('R', 'N') GROUP BY 1),
      |terms AS (
      |  SELECT ca, cb,
      |    CAST(ca AS DECIMAL(12,0)) *
      |      CAST(2 * COALESCE(SUM(cb) OVER
      |        (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |        0) + cb AS DECIMAL(18,0)) AS u2term,
      |    CAST(ca + cb AS DECIMAL(12,0)) * CAST(ca + cb AS DECIMAL(12,0)) *
      |      CAST(ca + cb AS DECIMAL(12,0)) -
      |      CAST(ca + cb AS DECIMAL(12,0)) AS t3term
      |  FROM census),
      |sums AS (
      |  SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
      |    SUM(u2term) AS u2, SUM(t3term) AS t3t
      |  FROM terms)
      |SELECT n_a, n_b, CAST(u2 AS DOUBLE) / 2.0 AS u_stat,
      |  round(
      |    (CAST(u2 AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) /
      |    (2.0 * sqrt(
      |      (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0) *
      |      (CAST(n_a + n_b + 1 AS DOUBLE) -
      |        CAST(t3t AS DOUBLE) /
      |          (CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b - 1 AS DOUBLE))))),
      |    6) + 0.0 AS z_score
      |FROM sums""".stripMargin

  // --------------------------------------------------------------- q238
  /** Cross-fold stability of the q69 value-over-time trend: the same
    * closed-form OLS slope fitted independently on 5 disjoint
    * md5-assigned folds of the event stream, with each fold's slope and
    * the max pairwise spread. The cheap robustness audit behind any
    * fitted coefficient — a slope that flips sign across folds is
    * noise wearing a trend costume (q172 asks the same question of a
    * mean difference via permutation).
    *
    * Exactness: fold assignment is md5 mod 5 (exact integer);
    * per-fold sums are exact (q69's integer-hour × 4-dp decimal
    * discipline); each slope is one double expression rounded at 9 dp;
    * the spread is max−min over 5 rounded values (order-independent).
    *
    * Scale shape: ONE map-combinable hash agg keyed by fold (the fold
    * column is map-side arithmetic); the 5-row fold table then
    * aggregates to the spread, broadcast back onto the rows. */
  def q238FoldStability(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5Hash60
    val baseEpoch = 1704067200L
    val x = floor((col("ts").cast("long") - baseEpoch) / lit(3600.0))
      .cast("long")
    val folds = graft.queries.Kpis.eventsTable(spark, dir)
      .select(
        pmod(md5Hash60(concat(lit("fold:"), col("event_id").cast("string"))),
          lit(5L)).cast("int").as("fold"),
        x.as("x"), col("value").cast("decimal(18,4)").as("y"))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y")).as("sy"),
        sum(col("y") * col("x")).as("sxy"))
      .withColumn("slope", round(
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"),
        9) + lit(0.0))
    val spread = folds.agg(
      (round(max(col("slope")) - min(col("slope")), 9) + lit(0.0))
        .as("slope_spread"),
      sum(when(col("slope") > 0, 1L).otherwise(0L)).as("n_positive"))
    folds.select(col("fold"), col("n"), col("slope"))
      .crossJoin(broadcast(spread))
      .orderBy("fold")
  }

  val q238Sql: String =
    s"""WITH pts AS (
      |  SELECT CAST(((('0x' || substr(md5('fold:' ||
      |      CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 5) + 5) % 5
      |      AS INTEGER) AS fold,
      |    (CAST(floor(epoch(ts)) AS BIGINT) - 1704067200) // 3600 AS x,
      |    CAST(value AS DECIMAL(18,4)) AS y
      |  FROM events),
      |folds AS (
      |  SELECT fold, COUNT(*) AS n,
      |    SUM(x) AS sx, SUM(x * x) AS sxx, SUM(y) AS sy, SUM(y * x) AS sxy
      |  FROM pts GROUP BY 1),
      |sl AS (
      |  SELECT fold, n,
      |    round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |      CAST(n * sxx - sx * sx AS DOUBLE), 9) + 0.0 AS slope
      |  FROM folds),
      |sp AS (
      |  SELECT round(MAX(slope) - MIN(slope), 9) + 0.0 AS slope_spread,
      |    CAST(SUM(CASE WHEN slope > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_positive
      |  FROM sl)
      |SELECT fold, n, slope, slope_spread, n_positive
      |FROM sl, sp ORDER BY fold""".stripMargin

  // --------------------------------------------------------------- q260
  /** McNemar's paired test of customer activity between the two halves
    * of the order history (1995–1997 vs 1998–2000): the 2×2 paired
    * census over ALL customers (both active / P1 only / P2 only /
    * neither) and the continuity-corrected statistic
    * χ² = (|b−c|−1)²/(b+c) on the discordant cells. The PAIRED
    * companion to q229's new-vs-returning view: each customer is their
    * own control, so secular size differences between the periods
    * cancel and only the churn↔activation asymmetry is tested (χ² ≫
    * 3.84 ⇒ the base is systematically growing or shrinking, not just
    * rotating).
    *
    * Exactness: the four cells are exact BIGINTs from one agg over the
    * customer↔order-activity left join; the statistic is one double
    * chain on the two integer cells, CASE-guarded for b + c = 0.
    *
    * Scale shape: orders collapse to a per-customer activity pair in
    * one map-combinable agg; the customer left join is an entity-scale
    * hash join (broadcast-able at dim scale); one 4-cell census row
    * out. */
  def q260McnemarActivity(spark: SparkSession, dir: String): DataFrame = {
    val act = Kpis.table(spark, dir, "orders")
      .withColumn("yr", year(col("o_orderdate")))
      .filter(col("yr").between(1995, 2000))
      .groupBy(col("o_custkey"))
      .agg(
        max(when(col("yr") <= 1997, 1L).otherwise(0L)).as("a1"),
        max(when(col("yr") >= 1998, 1L).otherwise(0L)).as("a2"))
    val cells = Kpis.table(spark, dir, "customer")
      .select(col("c_custkey"))
      .join(act, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("a1"), lit(0L)).as("a1"),
        coalesce(col("a2"), lit(0L)).as("a2"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(when(col("a1") === 1 && col("a2") === 1, 1L).otherwise(0L))
          .as("both_active"),
        sum(when(col("a1") === 1 && col("a2") === 0, 1L).otherwise(0L))
          .as("p1_only"),
        sum(when(col("a1") === 0 && col("a2") === 1, 1L).otherwise(0L))
          .as("p2_only"),
        sum(when(col("a1") === 0 && col("a2") === 0, 1L).otherwise(0L))
          .as("neither"))
    val b = col("p1_only").cast("double")
    val c = col("p2_only").cast("double")
    cells.withColumn("mcnemar_chi2",
      when(col("p1_only") + col("p2_only") === 0, lit(0.0))
        .otherwise((abs(b - c) - lit(1.0)) * (abs(b - c) - lit(1.0)) /
          (b + c)))
  }

  val q260Sql: String =
    """WITH act AS (
      |  SELECT o_custkey,
      |    MAX(CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END)
      |      AS a1,
      |    MAX(CASE WHEN year(o_orderdate) >= 1998 THEN 1 ELSE 0 END)
      |      AS a2
      |  FROM orders
      |  WHERE year(o_orderdate) BETWEEN 1995 AND 2000
      |  GROUP BY 1),
      |cells AS (
      |  SELECT COUNT(*) AS n_customers,
      |    CAST(SUM(CASE WHEN COALESCE(a1, 0) = 1 AND COALESCE(a2, 0) = 1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS both_active,
      |    CAST(SUM(CASE WHEN COALESCE(a1, 0) = 1 AND COALESCE(a2, 0) = 0
      |      THEN 1 ELSE 0 END) AS BIGINT) AS p1_only,
      |    CAST(SUM(CASE WHEN COALESCE(a1, 0) = 0 AND COALESCE(a2, 0) = 1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS p2_only,
      |    CAST(SUM(CASE WHEN COALESCE(a1, 0) = 0 AND COALESCE(a2, 0) = 0
      |      THEN 1 ELSE 0 END) AS BIGINT) AS neither
      |  FROM customer LEFT JOIN act ON c_custkey = o_custkey)
      |SELECT n_customers, both_active, p1_only, p2_only, neither,
      |  CASE WHEN p1_only + p2_only = 0 THEN 0.0
      |    ELSE (abs(CAST(p1_only AS DOUBLE) - CAST(p2_only AS DOUBLE))
      |        - 1.0) *
      |      (abs(CAST(p1_only AS DOUBLE) - CAST(p2_only AS DOUBLE))
      |        - 1.0) /
      |      (CAST(p1_only AS DOUBLE) + CAST(p2_only AS DOUBLE))
      |  END AS mcnemar_chi2
      |FROM cells""".stripMargin

  // --------------------------------------------------------------- q263
  /** Calibration / Brier audit of a FIXED logistic retention score:
    * predict P(customer active 1998–2000) from their 1995–1997 order
    * count x via p̂ = 1/(1+e^−(x/4−1)), then score the prediction
    * against what happened — per score group: mean prediction vs
    * observed rate (the reliability-diagram row) and the group's Brier
    * contribution Σ(p̂−y)², plus the overall Brier score. The
    * model-evaluation primitive q206's lift curve lacks: lift ranks,
    * calibration says whether the PROBABILITIES are honest (a miscalibrated
    * score can't drive expected-value decisions like retention spend).
    *
    * Groups are the integer x itself, never bins of p̂ — p̂ is monotone
    * in x, and binning on a computed double would let one ulp flip a
    * customer across a bin edge between engines.
    *
    * Exactness: x and the active flag are exact integers over the full
    * customer universe (left join, 0-fill); p̂ is ONE double chain on
    * integer x snapped to the 9-dp decimal grid, so the group Brier sum
    * n·p̂² − 2·p̂·k + k is EXACT decimal arithmetic (no float
    * summation anywhere); observed rate and the overall Brier are
    * single closing double divisions.
    *
    * Scale shape: orders collapse to per-customer (x, y) in one
    * map-combinable agg; groups are the ≤|max orders| census; the
    * overall row is a 1-row broadcast. */
  /** Per-customer retention pair over the full customer universe:
    * x = 1995–97 order count, y = active 1998+ (left join, 0-fill) —
    * the (x, y) construction shared by q263 (calibration), q291
    * (discrimination), and q369 (isotonic recalibration). */
  private def retentionXy(spark: SparkSession, dir: String): DataFrame = {
    val act = Kpis.table(spark, dir, "orders")
      .withColumn("yr", year(col("o_orderdate")))
      .filter(col("yr").between(1995, 2000))
      .groupBy(col("o_custkey"))
      .agg(
        sum(when(col("yr") <= 1997, 1L).otherwise(0L)).as("x0"),
        max(when(col("yr") >= 1998, 1L).otherwise(0L)).as("y0"))
    Kpis.table(spark, dir, "customer")
      .select(col("c_custkey"))
      .join(act, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("x0"), lit(0L)).as("x"),
        coalesce(col("y0"), lit(0L)).as("y"))
  }

  /** DuckDB spelling of [[retentionXy]]: CTE prefix ending at `xy`. */
  private val retentionXyCte: String =
    """WITH act AS (
      |  SELECT o_custkey,
      |    SUM(CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END)
      |      AS x0,
      |    MAX(CASE WHEN year(o_orderdate) >= 1998 THEN 1 ELSE 0 END)
      |      AS y0
      |  FROM orders
      |  WHERE year(o_orderdate) BETWEEN 1995 AND 2000
      |  GROUP BY 1),
      |xy AS (
      |  SELECT CAST(COALESCE(x0, 0) AS BIGINT) AS x,
      |    CAST(COALESCE(y0, 0) AS BIGINT) AS y
      |  FROM customer LEFT JOIN act ON c_custkey = o_custkey)"""
      .stripMargin

  def q263BrierCalibration(spark: SparkSession, dir: String): DataFrame = {
    val xy = retentionXy(spark, dir)
    val p = round(lit(1.0) /
      (lit(1.0) + exp(-(col("x").cast("double") / lit(4.0) - lit(1.0)))), 9)
      .cast("decimal(12,9)")
    // exact decimal widths chosen so no product exceeds DECIMAL(38):
    // p is (12,9) ⇒ p² is exactly 18 dp and < 10, cast (19,18) is exact;
    // n,k as (10,0) keep n·p² at (30,18) and 2·p·k at (24,9) — both
    // lossless, so the three-term group sum is exact decimal arithmetic.
    val nD = col("n_customers").cast("decimal(10,0)")
    val kD = col("k").cast("decimal(10,0)")
    val p2 = (col("p") * col("p")).cast("decimal(19,18)")
    val grp = xy.groupBy(col("x"))
      .agg(count(lit(1)).as("n_customers"), sum(col("y")).as("k"))
      .withColumn("p", p)
      .withColumn("brier_sum",
        (nD * p2).cast("decimal(32,18)") -
          (lit(2).cast("decimal(2,0)") * col("p") * kD)
            .cast("decimal(32,18)") +
          kD.cast("decimal(32,18)"))
    // 6-dp final grid: a scale-18 decimal→double cast double-rounds
    // (int128 → double → ÷10¹⁸) differently across engines at 1 ulp;
    // the exact decimal stays the comparison anchor, the EMITTED double
    // is its 6-dp rounding, which both engines agree on.
    val tot = grp.agg(
      (round(sum(col("brier_sum")).cast("double") /
        sum(col("n_customers")).cast("double"), 6) + lit(0.0))
        .as("brier_score"))
    grp.crossJoin(broadcast(tot))
      .select(col("x").as("p1_orders"), col("n_customers"),
        col("p").cast("double").as("predicted"),
        (round(col("k").cast("double") /
          col("n_customers").cast("double"), 6) + lit(0.0)).as("observed"),
        (round(col("brier_sum").cast("double"), 6) + lit(0.0))
          .as("brier_sum"),
        col("brier_score"))
      .orderBy("p1_orders")
  }

  val q263Sql: String = retentionXyCte +
    """,
      |grp AS (
      |  SELECT x, COUNT(*) AS n_customers, CAST(SUM(y) AS BIGINT) AS k,
      |    CAST(round(1.0 / (1.0 +
      |      exp(-(CAST(x AS DOUBLE) / 4.0 - 1.0))), 9) AS DECIMAL(12,9))
      |      AS p
      |  FROM xy GROUP BY 1),
      |g2 AS (
      |  SELECT x, n_customers, k, p,
      |    CAST(CAST(n_customers AS DECIMAL(10,0)) *
      |         CAST(p * p AS DECIMAL(19,18)) AS DECIMAL(32,18))
      |    - CAST(CAST(2 AS DECIMAL(2,0)) * p *
      |         CAST(k AS DECIMAL(10,0)) AS DECIMAL(32,18))
      |    + CAST(k AS DECIMAL(32,18)) AS brier_sum
      |  FROM grp),
      |tot AS (
      |  SELECT round(CAST(SUM(brier_sum) AS DOUBLE) /
      |    CAST(SUM(n_customers) AS DOUBLE), 6) + 0.0 AS brier_score
      |  FROM g2)
      |SELECT x AS p1_orders, n_customers, CAST(p AS DOUBLE) AS predicted,
      |  round(CAST(k AS DOUBLE) / CAST(n_customers AS DOUBLE), 6) + 0.0
      |    AS observed,
      |  round(CAST(brier_sum AS DOUBLE), 6) + 0.0 AS brier_sum,
      |  brier_score
      |FROM g2, tot ORDER BY p1_orders""".stripMargin

  // --------------------------------------------------------------- q291
  /** Discrimination triple (AUC / Gini / KS) of q263's FIXED retention
    * score: q263 certifies the score's CALIBRATION (are the probabilities
    * honest); this is its companion — does the score RANK active
    * customers above inactive ones at all. Same (x, y) construction:
    * x = 1995–97 order count over the full customer universe (left join,
    * 0-fill), y = active 1998+. Since the logistic p̂ is monotone in x,
    * AUC/Gini/KS of p̂ equal those of raw x — so the score census IS the
    * integer x census and no float ever enters the ranking.
    *
    * Exactness — the whole computation stays in BIGINT space until three
    * closing divisions: with per-score counts (k pos, neg) and exclusive
    * negative prefix negBelow,
    *   2U    = Σ_s k_s·(2·negBelow_s + neg_s)        (midrank tie form)
    *   AUC   = 2U / (2·n₊·n₋)
    *   Gini  = (2U − n₊·n₋) / (n₊·n₋)
    *   KSnum = max_s |cumPos_s·n₋ − cumNeg_s·n₊|     (common-denominator
    *           form of max |TPR−FPR|), KS = KSnum / (n₊·n₋)
    * Each emitted double is ONE integer division — bit-exact across
    * engines. q203 runs the same U machinery as a two-sample location
    * test on event values; here it is the model-evaluation surface
    * (ROC summary) over a behavioral score.
    *
    * Scale shape: orders collapse to per-customer (x,y) in one
    * map-combinable agg; everything after runs on the ≤|max orders|
    * score census (a global window over ~30 rows — WindowGuardSpec
    * pins it); totals broadcast as 1-row frames. */
  def q291ScoreDiscrimination(spark: SparkSession, dir: String): DataFrame = {
    val xy = retentionXy(spark, dir)
    val census = xy.groupBy(col("x"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("k"))
      .withColumn("neg", col("n") - col("k"))
    val wBelow = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wIncl = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = census
      .withColumn("neg_below", coalesce(sum(col("neg")).over(wBelow), lit(0L)))
      .withColumn("cum_pos", sum(col("k")).over(wIncl))
      .withColumn("cum_neg", sum(col("neg")).over(wIncl))
    val tot = cum.agg(
      sum(col("k")).as("n_pos"), sum(col("neg")).as("n_neg"),
      sum(col("k") * (lit(2L) * col("neg_below") + col("neg")))
        .as("u_times2"))
    val ksn = cum.crossJoin(broadcast(tot))
      .agg(max(abs(col("cum_pos") * col("n_neg") -
        col("cum_neg") * col("n_pos"))).as("ks_num"))
    val pairs = col("n_pos") * col("n_neg")
    tot.crossJoin(broadcast(ksn)).select(
      col("n_pos"), col("n_neg"), col("u_times2"),
      (col("u_times2").cast("double") /
        (lit(2L) * pairs).cast("double")).as("auc"),
      ((col("u_times2") - pairs).cast("double") /
        pairs.cast("double")).as("gini"),
      (col("ks_num").cast("double") / pairs.cast("double")).as("ks_stat"))
  }

  val q291Sql: String = retentionXyCte +
    """,
      |census AS (
      |  SELECT x, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS k,
      |    COUNT(*) - CAST(SUM(y) AS BIGINT) AS neg
      |  FROM xy GROUP BY 1),
      |cum AS (
      |  SELECT x, k, neg,
      |    COALESCE(SUM(neg) OVER (ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS neg_below,
      |    SUM(k) OVER (ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
      |    SUM(neg) OVER (ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_neg
      |  FROM census),
      |tot AS (
      |  SELECT CAST(SUM(k) AS BIGINT) AS n_pos,
      |    CAST(SUM(neg) AS BIGINT) AS n_neg,
      |    CAST(SUM(k * (2*neg_below + neg)) AS BIGINT) AS u_times2
      |  FROM cum),
      |ksn AS (
      |  SELECT CAST(MAX(ABS(cum_pos * (SELECT n_neg FROM tot)
      |    - cum_neg * (SELECT n_pos FROM tot))) AS BIGINT) AS ks_num
      |  FROM cum)
      |SELECT n_pos, n_neg, u_times2,
      |  CAST(u_times2 AS DOUBLE) / CAST(2*n_pos*n_neg AS DOUBLE) AS auc,
      |  CAST(u_times2 - n_pos*n_neg AS DOUBLE)
      |    / CAST(n_pos*n_neg AS DOUBLE) AS gini,
      |  CAST(ks_num AS DOUBLE) / CAST(n_pos*n_neg AS DOUBLE) AS ks_stat
      |FROM tot, ksn""".stripMargin

  // --------------------------------------------------------------- q314
  /** Sample-ratio-mismatch (SRM) guardrail for q129's hash assignment:
    * the first check every experimentation platform runs BEFORE reading
    * a treatment effect — if the observed A/B split deviates from the
    * designed ratio beyond binomial noise, the randomization itself is
    * broken (redirects, bot filtering, logging loss) and q129's z-score
    * is meaningless. Expected share is the EXACT design ratio of the
    * assignment rule (first md5 hex char < '8' ⇒ 8/16 = 0.5);
    * z = (n_a − n·p)/√(n·p·(1−p)), flagged at |z| > 3 (the industry
    * SRM threshold).
    *
    * Exactness: counts are integers; z is one sqrt (IEEE
    * correctly-rounded) and one division over identically-derived
    * doubles; the flag compares identical doubles.
    *
    * Scale shape: one per-user agg, one global map-combinable reduce to
    * a single row. */
  def q314SrmCheck(spark: SparkSession, dir: String): DataFrame = {
    val users = Kpis.eventsTable(spark, dir)
      .select(col("user_id")).distinct()
      .withColumn("is_a",
        substring(md5(col("user_id").cast("string")), 1, 1) < "8")
    val c = users.agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
      count(lit(1)).as("n"))
    val nD = col("n").cast("double")
    val z = (col("n_a").cast("double") - nD * lit(0.5)) /
      sqrt(nD * lit(0.5) * lit(0.5))
    c.select(col("n_a"), (col("n") - col("n_a")).as("n_b"), col("n"),
      lit(0.5).as("expected_share"),
      (col("n_a").cast("double") / nD).as("observed_share"),
      z.as("srm_z"),
      (abs(z) > lit(3.0)).as("srm_flag"))
  }

  val q314Sql: String =
    """WITH u AS (
      |  SELECT DISTINCT user_id FROM events),
      |c AS (
      |  SELECT CAST(SUM(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)),
      |      1, 1) < '8' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    COUNT(*) AS n
      |  FROM u)
      |SELECT n_a, n - n_a AS n_b, n,
      |  CAST(0.5 AS DOUBLE) AS expected_share,
      |  CAST(n_a AS DOUBLE) / CAST(n AS DOUBLE) AS observed_share,
      |  (CAST(n_a AS DOUBLE) - CAST(n AS DOUBLE) * 0.5)
      |    / sqrt(CAST(n AS DOUBLE) * 0.5 * 0.5) AS srm_z,
      |  abs((CAST(n_a AS DOUBLE) - CAST(n AS DOUBLE) * 0.5)
      |    / sqrt(CAST(n AS DOUBLE) * 0.5 * 0.5)) > 3.0 AS srm_flag
      |FROM c""".stripMargin

  // --------------------------------------------------------------- q315
  /** CUPED variance reduction: how much experiment variance does the
    * pre-period covariate remove? Per customer (full universe, 0-fill),
    * x = 1995–96 spend cents, y = 1997–98 spend cents; the optimal
    * adjustment θ = cov(x,y)/var(x) and the reduction equals ρ², so the
    * adjusted metric variance is var(y)·(1−ρ²) — the Deng et al. result
    * every experimentation platform implements to shrink confidence
    * intervals without more traffic. q129 tests a difference; this
    * measures how much cheaper that test gets with a covariate.
    *
    * Exactness: the five moment sums (Σx, Σy, Σxy, Σx², Σy²) accumulate
    * in exact DECIMAL(38,0) cents space and cross to double through the
    * varchar bridge (the q130 convention — products exceed 2⁵³, where
    * DuckDB's direct int128→double cast double-rounds); every closing
    * statistic is the identical double chain in both engines.
    *
    * Scale shape: one per-customer agg over orders, one global
    * map-combinable moment reduce to a single row. */
  def q315CupedReduction(spark: SparkSession, dir: String): DataFrame = {
    val per = Kpis.table(spark, dir, "orders")
      .withColumn("yr", year(col("o_orderdate")))
      .filter(col("yr").between(1995, 1998))
      .groupBy(col("o_custkey"))
      .agg(
        sum(when(col("yr") <= 1996,
          round(col("o_totalprice") * 100).cast("long")).otherwise(0L))
          .as("x0"),
        sum(when(col("yr") >= 1997,
          round(col("o_totalprice") * 100).cast("long")).otherwise(0L))
          .as("y0"))
    val xy = Kpis.table(spark, dir, "customer").select(col("c_custkey"))
      .join(per, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("x0"), lit(0L)).cast("decimal(19,0)").as("x"),
        coalesce(col("y0"), lit(0L)).cast("decimal(19,0)").as("y"))
    val m = xy.agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum((col("x") * col("y")).cast("decimal(38,0)")).cast("double")
        .as("sxy"),
      sum((col("x") * col("x")).cast("decimal(38,0)")).cast("double")
        .as("sxx"),
      sum((col("y") * col("y")).cast("decimal(38,0)")).cast("double")
        .as("syy"))
    val nD = col("n").cast("double")
    val varx = (col("sxx") - col("sx") * col("sx") / nD) / (nD - lit(1.0))
    val vary = (col("syy") - col("sy") * col("sy") / nD) / (nD - lit(1.0))
    val cov = (col("sxy") - col("sx") * col("sy") / nD) / (nD - lit(1.0))
    m.select(col("n"),
      (cov / varx).as("theta"),
      ((cov * cov) / (varx * vary)).as("rho_sq"),
      vary.as("var_post"),
      (vary * (lit(1.0) - (cov * cov) / (varx * vary)))
        .as("var_adjusted"))
  }

  val q315Sql: String =
    """WITH per AS (
      |  SELECT o_custkey,
      |    SUM(CASE WHEN year(o_orderdate) <= 1996
      |      THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END)
      |      AS x0,
      |    SUM(CASE WHEN year(o_orderdate) >= 1997
      |      THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END)
      |      AS y0
      |  FROM orders
      |  WHERE year(o_orderdate) BETWEEN 1995 AND 1998
      |  GROUP BY 1),
      |xy AS (
      |  SELECT CAST(COALESCE(x0, 0) AS DECIMAL(19,0)) AS x,
      |    CAST(COALESCE(y0, 0) AS DECIMAL(19,0)) AS y
      |  FROM customer LEFT JOIN per ON c_custkey = o_custkey),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
      |    CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
      |    CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS VARCHAR)
      |      AS DOUBLE) AS sxy,
      |    CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS VARCHAR)
      |      AS DOUBLE) AS sxx,
      |    CAST(CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS VARCHAR)
      |      AS DOUBLE) AS syy
      |  FROM xy)
      |SELECT n,
      |  ((sxy - sx * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))
      |    / ((sxx - sx * sx / CAST(n AS DOUBLE))
      |       / (CAST(n AS DOUBLE) - 1.0)) AS theta,
      |  (((sxy - sx * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))
      |   * ((sxy - sx * sy / CAST(n AS DOUBLE))
      |      / (CAST(n AS DOUBLE) - 1.0)))
      |  / (((sxx - sx * sx / CAST(n AS DOUBLE))
      |      / (CAST(n AS DOUBLE) - 1.0))
      |     * ((syy - sy * sy / CAST(n AS DOUBLE))
      |        / (CAST(n AS DOUBLE) - 1.0))) AS rho_sq,
      |  (syy - sy * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)
      |    AS var_post,
      |  ((syy - sy * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))
      |  * (1.0 -
      |     (((sxy - sx * sy / CAST(n AS DOUBLE))
      |       / (CAST(n AS DOUBLE) - 1.0))
      |      * ((sxy - sx * sy / CAST(n AS DOUBLE))
      |         / (CAST(n AS DOUBLE) - 1.0)))
      |     / (((sxx - sx * sx / CAST(n AS DOUBLE))
      |         / (CAST(n AS DOUBLE) - 1.0))
      |        * ((syy - sy * sy / CAST(n AS DOUBLE))
      |           / (CAST(n AS DOUBLE) - 1.0)))) AS var_adjusted
      |FROM m""".stripMargin

  // --------------------------------------------------------------- q316
  /** Group-sequential monitoring of q129's A/B test: recompute the
    * two-sample z at four interim LOOKS (25/50/75/100% of the event
    * time range) and compare each against the O'Brien-Fleming spending
    * boundary (z_k = 2.024·√(4/k): 4.048, 2.862, 2.337, 2.024) — the
    * peeking-safe monitor an experimentation platform runs instead of
    * re-testing at α=0.05 daily (which inflates false positives ~4×
    * over 4 looks). A user enrolls at their first event; each look
    * uses the purchases observed by its cutoff. q314 guards the
    * randomization, q315 shrinks the variance, this guards the
    * CALENDAR: together the experimentation control plane.
    *
    * Exactness: cutoffs are exact integer microsecond arithmetic
    * (min + span·k/4, floor division); all per-look counts/moments are
    * exact integers; each z is the q129 double chain; boundaries are
    * literals, so stop flags compare identical doubles.
    *
    * Scale shape: one per-user agg (against a broadcast 1-row time
    * range), one 24-column map-combinable moment reduce, stacked to 4
    * look rows. */
  def q316SequentialLooks(spark: SparkSession, dir: String): DataFrame = {
    val mm = Kpis.eventsTable(spark, dir).agg(
      min(unix_micros(col("ts"))).as("t0"),
      max(unix_micros(col("ts"))).as("t1"))
    def cutoff(k: Int) =
      (col("t0") + expr(s"((t1 - t0) * $k) div 4")).as(s"c$k")
    val ev = Kpis.eventsTable(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("event_type"))
      .crossJoin(broadcast(mm.select(cutoff(1), cutoff(2), cutoff(3),
        cutoff(4))))
    val userAggs = Seq(min(col("tus")).as("first_t")) ++
      (1 to 4).map(k =>
        sum(when(col("event_type") === "purchase" &&
          col("tus") <= col(s"c$k"), 1L).otherwise(0L)).as(s"p$k")) ++
      (1 to 4).map(k => max(col(s"c$k")).as(s"c$k"))
    val perUser = ev.groupBy(col("user_id"))
      .agg(userAggs.head, userAggs.tail: _*)
      .withColumn("is_a",
        substring(md5(col("user_id").cast("string")), 1, 1) < "8")
    val momentAggs = (1 to 4).flatMap { k =>
      val enrolled = col("first_t") <= col(s"c$k")
      def arm(a: Boolean, tag: String) = Seq(
        sum(when(enrolled && col("is_a") === a, 1L).otherwise(0L))
          .as(s"n_${tag}_$k"),
        sum(when(enrolled && col("is_a") === a, col(s"p$k"))
          .otherwise(0L)).as(s"s_${tag}_$k"),
        sum(when(enrolled && col("is_a") === a,
          col(s"p$k") * col(s"p$k")).otherwise(0L)).as(s"ss_${tag}_$k"))
      arm(a = true, "a") ++ arm(a = false, "b")
    }
    val moments = perUser.agg(momentAggs.head, momentAggs.tail: _*)
    val bounds = Map(1 -> 4.048, 2 -> 2.862, 3 -> 2.337, 4 -> 2.024)
    def zAt(k: Int) = {
      def d(c: String) = col(s"${c}_$k").cast("double")
      val va = (d("ss_a") - d("s_a") * d("s_a") / d("n_a")) /
        (d("n_a") - lit(1.0))
      val vb = (d("ss_b") - d("s_b") * d("s_b") / d("n_b")) /
        (d("n_b") - lit(1.0))
      (d("s_a") / d("n_a") - d("s_b") / d("n_b")) /
        sqrt(va / d("n_a") + vb / d("n_b"))
    }
    val looks = (1 to 4).map { k =>
      moments.select(lit(k.toLong).as("look"),
        lit(k * 0.25).as("information_frac"),
        (col(s"n_a_$k") + col(s"n_b_$k")).as("n_enrolled"),
        zAt(k).as("z"),
        lit(bounds(k)).as("obf_boundary"),
        (abs(zAt(k)) > lit(bounds(k))).as("stop"))
    }.reduce(_ unionByName _)
    looks.orderBy("look")
  }

  val q316Sql: String = {
    val bounds = Map(1 -> "4.048", 2 -> "2.862", 3 -> "2.337", 4 -> "2.024")
    def z(k: Int) = {
      def v(t: String) =
        s"""((ss_${t}_$k - s_${t}_$k * s_${t}_$k / CAST(n_${t}_$k AS DOUBLE))
           | / (CAST(n_${t}_$k AS DOUBLE) - 1.0))""".stripMargin
      s"""((s_a_$k / CAST(n_a_$k AS DOUBLE)
         |  - s_b_$k / CAST(n_b_$k AS DOUBLE))
         | / sqrt(${v("a")} / CAST(n_a_$k AS DOUBLE)
         |        + ${v("b")} / CAST(n_b_$k AS DOUBLE)))""".stripMargin
    }
    val momentCols = (1 to 4).flatMap { k =>
      Seq("a", "b").flatMap { t =>
        val arm = if (t == "a") "< '8'" else ">= '8'"
        Seq(
          s"""CAST(SUM(CASE WHEN first_t <= c$k AND arm $arm
             |  THEN 1 ELSE 0 END) AS BIGINT) AS n_${t}_$k""".stripMargin,
          s"""CAST(SUM(CASE WHEN first_t <= c$k AND arm $arm
             |  THEN p$k ELSE 0 END) AS DOUBLE) AS s_${t}_$k""".stripMargin,
          s"""CAST(SUM(CASE WHEN first_t <= c$k AND arm $arm
             |  THEN p$k * p$k ELSE 0 END) AS DOUBLE) AS ss_${t}_$k"""
            .stripMargin)
      }
    }.mkString(",\n    ")
    val looks = (1 to 4).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS look,
         |  CAST(${k * 0.25} AS DOUBLE) AS information_frac,
         |  n_a_$k + n_b_$k AS n_enrolled,
         |  ${z(k)} AS z,
         |  CAST(${bounds(k)} AS DOUBLE) AS obf_boundary,
         |  abs(${z(k)}) > ${bounds(k)} AS stop
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH mm AS (
      |  SELECT MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1
      |  FROM events),
      |cut AS (
      |  SELECT t0 + ((t1 - t0) * 1) // 4 AS c1,
      |    t0 + ((t1 - t0) * 2) // 4 AS c2,
      |    t0 + ((t1 - t0) * 3) // 4 AS c3,
      |    t0 + ((t1 - t0) * 4) // 4 AS c4
      |  FROM mm),
      |pu AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS first_t,
      |    SUM(CASE WHEN event_type = 'purchase'
      |      AND epoch_us(ts) <= c1 THEN 1 ELSE 0 END) AS p1,
      |    SUM(CASE WHEN event_type = 'purchase'
      |      AND epoch_us(ts) <= c2 THEN 1 ELSE 0 END) AS p2,
      |    SUM(CASE WHEN event_type = 'purchase'
      |      AND epoch_us(ts) <= c3 THEN 1 ELSE 0 END) AS p3,
      |    SUM(CASE WHEN event_type = 'purchase'
      |      AND epoch_us(ts) <= c4 THEN 1 ELSE 0 END) AS p4,
      |    MAX(c1) AS c1, MAX(c2) AS c2, MAX(c3) AS c3, MAX(c4) AS c4,
      |    substr(md5(CAST(user_id AS VARCHAR)), 1, 1) AS arm
      |  FROM events, cut GROUP BY user_id
      |    , substr(md5(CAST(user_id AS VARCHAR)), 1, 1)),
      |m AS (
      |  SELECT
      |    $momentCols
      |  FROM pu)
      |$looks
      |ORDER BY look""".stripMargin
  }

  // --------------------------------------------------------------- q341
  /** Daily SRM census — the day-scoped form of q314's sample-ratio
    * guardrail, and the registered batch anchor of
    * [[graft.streaming.SrmStream]]: per event-time day, the day's
    * DISTINCT active users split by the q129/q314 hash arm, with the
    * binomial z against the exact 8/16 design share and the |z| > 3
    * flag. This is how a live experimentation platform actually runs
    * SRM — each day's traffic is checked independently, so a
    * randomization break (redirect change, bot-filter deploy, logging
    * loss) is localized TO ITS ONSET DAY instead of diluting into the
    * cumulative counts q314 reads.
    *
    * Exactness: per-day distinct-user counts are exact integers; z is
    * the q314 double chain per day; the flag compares identical doubles.
    *
    * Scale shape: one (day, user) distinct agg (map-side combinable),
    * one day-census agg — no windows, no driver collect. The streaming
    * twin is the same two stateful ops under a watermark
    * (dropDuplicatesWithinWatermark → windowed agg, SrmStreamSpec). */
  def q341DailySrm(spark: SparkSession, dir: String): DataFrame = {
    val u = Kpis.eventsTable(spark, dir)
      .select((floor(unix_micros(col("ts")) / 86400000000L) * 86400L)
        .as("day_start_s"), col("user_id"))
      .distinct()
      .withColumn("is_a",
        substring(md5(col("user_id").cast("string")), 1, 1) < "8")
    val c = u.groupBy(col("day_start_s"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"))
    val nD = col("n").cast("double")
    val z = (col("n_a").cast("double") - nD * lit(0.5)) /
      sqrt(nD * lit(0.5) * lit(0.5))
    c.select(col("day_start_s"), col("n_a"), (col("n") - col("n_a")).as("n_b"),
        col("n"), (col("n_a").cast("double") / nD).as("observed_share"),
        z.as("srm_z"), (abs(z) > lit(3.0)).as("srm_flag"))
      .orderBy("day_start_s")
  }

  val q341Sql: String =
    """WITH u AS (
      |  SELECT DISTINCT (epoch_us(ts) // 86400000000) * 86400 AS day_start_s,
      |    user_id
      |  FROM events),
      |c AS (
      |  SELECT day_start_s,
      |    COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
      |      < '8' THEN 1 ELSE 0 END) AS BIGINT) AS n_a
      |  FROM u GROUP BY 1)
      |SELECT day_start_s, n_a, n - n_a AS n_b, n,
      |  CAST(n_a AS DOUBLE) / CAST(n AS DOUBLE) AS observed_share,
      |  (CAST(n_a AS DOUBLE) - CAST(n AS DOUBLE) * 0.5)
      |    / sqrt(CAST(n AS DOUBLE) * 0.5 * 0.5) AS srm_z,
      |  abs((CAST(n_a AS DOUBLE) - CAST(n AS DOUBLE) * 0.5)
      |    / sqrt(CAST(n AS DOUBLE) * 0.5 * 0.5)) > 3.0 AS srm_flag
      |FROM c ORDER BY day_start_s""".stripMargin

  // --------------------------------------------------------------- q320
  /** Benjamini–Hochberg FDR screen over the 25-nation metric grid: for
    * each nation, a 2×2 chi-square test of whether its 1997→1998 order
    * mix shifted differently from the rest of the world, then the BH
    * STEP-UP across all 25 tests — the multiple-comparisons control an
    * experimentation platform applies when it reads one metric across
    * many segments (q314/q315/q316 guard ONE test; this guards the
    * family). Rejected segments are those at or below the largest rank
    * k whose p-value clears α·k/m.
    *
    * Exactness: the BH decision never touches a p-value — p(i) ≤ α·i/m
    * ⟺ χ²(i) ≥ F⁻¹(1−α·i/m), so each test compares
    * N·(ad−bc)²·10⁹ ≥ crit9(rank)·(a+b)(c+d)(a+c)(b+d) in EXACT
    * DECIMAL(38,0) integer space, with crit9 a 25-entry literal grid of
    * 9-dp-scaled χ²(1 df) quantiles (α = 0.05, m = 25, fixed by the
    * nation-table design). The double χ² is used only for RANKING (one
    * exact-int→double cast + one IEEE division, identical in both
    * engines; DuckDB crosses int128→double via the q130 varchar bridge)
    * and 6-dp display.
    *
    * Scale shape: one fact-scale (nation, year) agg, a broadcast 1-row
    * total, and a 25-row census for the rank window (pinned in
    * WindowGuardSpec) — fact rows are never windowed. */
  def q320BhFdr(spark: SparkSession, dir: String): DataFrame = {
    val crit9 = Seq(9549535706L, 8283814996L, 7550302542L, 7033474266L,
      6634896601L, 6310869124L, 6038143369L, 5802874107L, 5596149122L,
      5411894431L, 5245785016L, 5094632426L, 4956018842L, 4828067421L,
      4709292247L, 4598496911L, 4494703970L, 4397104643L, 4305022169L,
      4217884588L, 4135204197L, 4056561799L, 3981594462L, 3909985901L,
      3841458821L)
    val perNation = Kpis.table(spark, dir, "orders")
      .withColumn("yr", year(col("o_orderdate")))
      .filter(col("yr").isin(1997, 1998))
      .join(Kpis.table(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"))
      .agg(sum(when(col("yr") === 1997, 1L).otherwise(0L)).as("a0"),
        sum(when(col("yr") === 1998, 1L).otherwise(0L)).as("b0"))
    val cells = Kpis.table(spark, dir, "nation")
      .select(col("n_nationkey").as("nation"))
      .join(perNation, col("nation") === col("nk"), "left")
      .select(col("nation"),
        coalesce(col("a0"), lit(0L)).as("a"),
        coalesce(col("b0"), lit(0L)).as("b"))
    val tot = cells.agg(sum(col("a")).as("t97"), sum(col("b")).as("t98"))
    val t = cells.crossJoin(broadcast(tot))
      .withColumn("c", col("t97") - col("a"))
      .withColumn("d", col("t98") - col("b"))
      .withColumn("det",
        (col("a") * col("d") - col("b") * col("c")).cast("decimal(19,0)"))
      .withColumn("lhs",
        ((col("det") * col("det")).cast("decimal(38,0)") *
          (col("t97") + col("t98")).cast("decimal(19,0)"))
          .cast("decimal(38,0)"))
      .withColumn("prods",
        (((col("a") + col("b")) * (col("c") + col("d")))
          .cast("decimal(19,0)") *
          ((col("a") + col("c")) * (col("b") + col("d")))
            .cast("decimal(19,0)")).cast("decimal(38,0)"))
      .withColumn("chi2d",
        when(col("prods") === lit(0L).cast("decimal(38,0)"), lit(0.0))
          .otherwise(col("lhs").cast("double") /
            col("prods").cast("double")))
    // rank window over the 25-row nation census (WindowGuardSpec)
    val ranked = t.withColumn("rank",
        row_number().over(
          Window.orderBy(col("chi2d").desc, col("nation").asc))
          .cast("long"))
      .withColumn("crit9",
        element_at(array(crit9.map(lit(_)): _*), col("rank").cast("int"))
          .cast("decimal(19,0)"))
      .withColumn("pass_own",
        col("prods") > lit(0L).cast("decimal(38,0)") &&
          (col("lhs") * lit(1000000000L).cast("decimal(19,0)"))
            .cast("decimal(38,0)") >=
          (col("crit9") * col("prods")).cast("decimal(38,0)"))
    val k = ranked.agg(
      max(when(col("pass_own"), col("rank")).otherwise(0L)).as("k_bh"))
    ranked.crossJoin(broadcast(k))
      .select(col("nation"), col("a").as("n_1997"), col("b").as("n_1998"),
        (round(col("chi2d"), 6) + lit(0.0)).as("chi2"),
        col("rank"), col("pass_own"), col("k_bh"),
        (col("rank") <= col("k_bh")).as("rejected"))
      .orderBy("rank")
  }

  // DuckDB decimal widths are sized for the sf0.01 verify fixture (its
  // multiply REQUIRES p1+p2 <= 38, unlike Spark's silent cap): det <=
  // ~4e5 -> (12,0), det^2 (24,0) x N (4,0) -> lhs (28,0); lhs x 1e9
  // (10,0) -> (38,0); crit9 (10,0) x prods (28,0) -> (38,0).
  val q320Sql: String =
    """WITH per AS (
      |  SELECT c_nationkey AS nk,
      |    CAST(SUM(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS a0,
      |    CAST(SUM(CASE WHEN year(o_orderdate) = 1998 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS b0
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE year(o_orderdate) IN (1997, 1998)
      |  GROUP BY 1),
      |cells AS (
      |  SELECT n_nationkey AS nation,
      |    COALESCE(a0, 0) AS a, COALESCE(b0, 0) AS b
      |  FROM nation LEFT JOIN per ON n_nationkey = nk),
      |tot AS (
      |  SELECT CAST(SUM(a) AS BIGINT) AS t97,
      |    CAST(SUM(b) AS BIGINT) AS t98 FROM cells),
      |t AS (
      |  SELECT nation, a, b,
      |    CAST(CAST(a * d - b * c AS DECIMAL(12,0))
      |      * CAST(a * d - b * c AS DECIMAL(12,0))
      |      * CAST(t97 + t98 AS DECIMAL(4,0)) AS DECIMAL(28,0)) AS lhs,
      |    CAST(CAST((a + b) * (c + d) AS DECIMAL(14,0))
      |      * CAST((a + c) * (b + d) AS DECIMAL(14,0)) AS DECIMAL(28,0))
      |      AS prods
      |  FROM (SELECT nation, a, b, t97 - a AS c, t98 - b AS d, t97, t98
      |        FROM cells CROSS JOIN tot)),
      |scored AS (
      |  SELECT nation, a, b, lhs, prods,
      |    CASE WHEN prods = 0 THEN 0.0
      |      ELSE CAST(CAST(lhs AS VARCHAR) AS DOUBLE)
      |        / CAST(CAST(prods AS VARCHAR) AS DOUBLE) END AS chi2d
      |  FROM t),
      |ranked AS (
      |  SELECT nation, a, b, lhs, prods, chi2d,
      |    CAST(ROW_NUMBER() OVER (ORDER BY chi2d DESC, nation ASC)
      |      AS BIGINT) AS rank
      |  FROM scored),
      |flagged AS (
      |  SELECT nation, a, b, chi2d, rank,
      |    (prods > 0 AND
      |     lhs * CAST(1000000000 AS DECIMAL(10,0))
      |       >= CAST([9549535706, 8283814996, 7550302542, 7033474266,
      |            6634896601, 6310869124, 6038143369, 5802874107,
      |            5596149122, 5411894431, 5245785016, 5094632426,
      |            4956018842, 4828067421, 4709292247, 4598496911,
      |            4494703970, 4397104643, 4305022169, 4217884588,
      |            4135204197, 4056561799, 3981594462, 3909985901,
      |            3841458821][CAST(rank AS INT)] AS DECIMAL(10,0))
      |          * prods) AS pass_own
      |  FROM ranked),
      |kk AS (
      |  SELECT CAST(MAX(CASE WHEN pass_own THEN rank ELSE 0 END)
      |    AS BIGINT) AS k_bh FROM flagged)
      |SELECT nation, a AS n_1997, b AS n_1998,
      |  round(chi2d, 6) + 0.0 AS chi2, rank, pass_own, k_bh,
      |  rank <= k_bh AS rejected
      |FROM flagged CROSS JOIN kk
      |ORDER BY rank""".stripMargin

  // --------------------------------------------------------------- q325
  /** Tie-corrected Kruskal–Wallis rank test: does lineitem quantity
    * distribute differently across the 5 order priorities? The k-sample
    * extension of q203's Mann–Whitney (rank-based, outlier-robust — a
    * one-way ANOVA on ranks), closing the k-group gap in the test
    * family (q129/q203 are two-sample, q212's ANOVA assumes normality).
    * H = 12/(N(N+1))·Σ R²_g/n_g − 3(N+1) over midranks, divided by the
    * tie correction 1 − Σ(t³−t)/(N³−N); compared against the χ²(4 df)
    * 95% critical value as a 9-dp literal (the q320 grid discipline).
    *
    * Exactness: the fact collapses to the 50-value quantity census;
    * DOUBLED midranks 2·mid(v) = 2·cumBefore(v) + t(v) + 1 keep
    * everything integer, so each group's doubled rank sum R2_g and the
    * tie term Σ(t³−t) are exact decimal sums. Every double that feeds H
    * is an exact-integer cast below 2⁵³; H itself is a FIXED-ORDER
    * expression tree (the five group terms added as literals u+h+m+s+l,
    * never a data-ordered SUM over doubles) — identical IEEE chains in
    * both engines.
    *
    * Scale shape: one fact join (orders⋈lineitem) into one
    * map-combinable (v, priority) census agg; the cumulative window and
    * everything after run on the 50-row census (WindowGuard). */
  def q325KruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")
    val tags = Seq("u", "h", "m", "s", "l")
    val joined = Kpis.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity").cast("decimal(18,2)").as("v"))
      .join(Kpis.table(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority").as("g")),
        col("l_orderkey") === col("o_orderkey"))
    val censusAggs = count(lit(1)).as("t") +:
      prios.zip(tags).map { case (p, tg) =>
        sum(when(col("g") === p, 1L).otherwise(0L)).as(s"c_$tg")
      }
    val census = joined.groupBy(col("v"))
      .agg(censusAggs.head, censusAggs.tail: _*)
    val cumBefore = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withMid = census
      .withColumn("m2",
        lit(2) * coalesce(sum(col("t")).over(cumBefore), lit(0L)) +
          col("t") + lit(1L))
    val wideAggs =
      (sum(col("t")).as("n_total") +:
        sum(((col("t").cast("decimal(12,0)") * col("t").cast("decimal(12,0)"))
          .cast("decimal(24,0)") * col("t").cast("decimal(12,0)") -
          col("t").cast("decimal(12,0)")).cast("decimal(38,0)")).as("t3t") +:
        tags.flatMap { tg =>
          Seq(sum(col(s"c_$tg")).as(s"n_$tg"),
            sum((col(s"c_$tg").cast("decimal(12,0)") *
              col("m2").cast("decimal(18,0)")).cast("decimal(30,0)"))
              .as(s"r2_$tg"))
        })
    val wide = withMid.agg(wideAggs.head, wideAggs.tail: _*)
    val nD = col("n_total").cast("double")
    def term(tg: String) = {
      val r2d = col(s"r2_$tg").cast("double")
      (r2d * r2d) / col(s"n_$tg").cast("double")
    }
    // fixed-order five-term sum: u + h + m + s + l
    val sumTerms = term("u") + term("h") + term("m") + term("s") + term("l")
    val h = lit(3.0) / (nD * (nD + lit(1.0))) * sumTerms -
      lit(3.0) * (nD + lit(1.0))
    val corr = lit(1.0) - col("t3t").cast("double") / (nD * nD * nD - nD)
    val scored = wide
      .withColumn("h_stat", round(h, 6) + lit(0.0))
      .withColumn("h_tie_corrected", round(h / corr, 6) + lit(0.0))
      .withColumn("reject_95", h / corr >= lit(9.487729037))
    scored.select(
      explode(array(prios.zip(tags).map { case (p, tg) =>
        struct(lit(p).as("priority"), col(s"n_$tg").as("n_lines"),
          col(s"r2_$tg").cast("decimal(38,0)").as("rank_sum_x2"))
      }: _*)).as("g"),
      col("n_total"), col("h_stat"), col("h_tie_corrected"),
      lit(4).as("df"), col("reject_95"))
      .select(col("g.priority").as("priority"), col("g.n_lines"),
        col("g.rank_sum_x2").cast("double").as("rank_sum_x2"),
        col("n_total"), col("h_stat"), col("h_tie_corrected"), col("df"),
        col("reject_95"))
      .orderBy("priority")
  }

  val q325Sql: String =
    """WITH joined AS (
      |  SELECT CAST(l_quantity AS DECIMAL(18,2)) AS v,
      |    o_orderpriority AS g
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |census AS (
      |  SELECT v, COUNT(*) AS t,
      |    CAST(SUM(CASE WHEN g = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c_u,
      |    CAST(SUM(CASE WHEN g = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c_h,
      |    CAST(SUM(CASE WHEN g = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c_m,
      |    CAST(SUM(CASE WHEN g = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c_s,
      |    CAST(SUM(CASE WHEN g = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c_l
      |  FROM joined GROUP BY 1),
      |mid AS (
      |  SELECT *,
      |    2 * COALESCE(SUM(t) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + t + 1 AS m2
      |  FROM census),
      |wide AS (
      |  SELECT CAST(SUM(t) AS BIGINT) AS n_total,
      |    CAST(SUM(CAST(CAST(CAST(t AS DECIMAL(12,0))
      |        * CAST(t AS DECIMAL(12,0)) AS DECIMAL(24,0))
      |        * CAST(t AS DECIMAL(12,0))
      |        - CAST(t AS DECIMAL(12,0)) AS DECIMAL(38,0)))
      |      AS DECIMAL(38,0)) AS t3t,
      |    CAST(SUM(c_u) AS BIGINT) AS n_u,
      |    CAST(SUM(CAST(CAST(c_u AS DECIMAL(12,0))
      |      * CAST(m2 AS DECIMAL(18,0)) AS DECIMAL(30,0)))
      |      AS DECIMAL(38,0)) AS r2_u,
      |    CAST(SUM(c_h) AS BIGINT) AS n_h,
      |    CAST(SUM(CAST(CAST(c_h AS DECIMAL(12,0))
      |      * CAST(m2 AS DECIMAL(18,0)) AS DECIMAL(30,0)))
      |      AS DECIMAL(38,0)) AS r2_h,
      |    CAST(SUM(c_m) AS BIGINT) AS n_m,
      |    CAST(SUM(CAST(CAST(c_m AS DECIMAL(12,0))
      |      * CAST(m2 AS DECIMAL(18,0)) AS DECIMAL(30,0)))
      |      AS DECIMAL(38,0)) AS r2_m,
      |    CAST(SUM(c_s) AS BIGINT) AS n_s,
      |    CAST(SUM(CAST(CAST(c_s AS DECIMAL(12,0))
      |      * CAST(m2 AS DECIMAL(18,0)) AS DECIMAL(30,0)))
      |      AS DECIMAL(38,0)) AS r2_s,
      |    CAST(SUM(c_l) AS BIGINT) AS n_l,
      |    CAST(SUM(CAST(CAST(c_l AS DECIMAL(12,0))
      |      * CAST(m2 AS DECIMAL(18,0)) AS DECIMAL(30,0)))
      |      AS DECIMAL(38,0)) AS r2_l
      |  FROM mid),
      |scored AS (
      |  SELECT *,
      |    round(3.0 / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE)
      |        + 1.0))
      |      * ((CAST(r2_u AS DOUBLE) * CAST(r2_u AS DOUBLE))
      |           / CAST(n_u AS DOUBLE)
      |         + (CAST(r2_h AS DOUBLE) * CAST(r2_h AS DOUBLE))
      |           / CAST(n_h AS DOUBLE)
      |         + (CAST(r2_m AS DOUBLE) * CAST(r2_m AS DOUBLE))
      |           / CAST(n_m AS DOUBLE)
      |         + (CAST(r2_s AS DOUBLE) * CAST(r2_s AS DOUBLE))
      |           / CAST(n_s AS DOUBLE)
      |         + (CAST(r2_l AS DOUBLE) * CAST(r2_l AS DOUBLE))
      |           / CAST(n_l AS DOUBLE))
      |      - 3.0 * (CAST(n_total AS DOUBLE) + 1.0), 6) + 0.0 AS h_stat,
      |    round((3.0 / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE)
      |        + 1.0))
      |      * ((CAST(r2_u AS DOUBLE) * CAST(r2_u AS DOUBLE))
      |           / CAST(n_u AS DOUBLE)
      |         + (CAST(r2_h AS DOUBLE) * CAST(r2_h AS DOUBLE))
      |           / CAST(n_h AS DOUBLE)
      |         + (CAST(r2_m AS DOUBLE) * CAST(r2_m AS DOUBLE))
      |           / CAST(n_m AS DOUBLE)
      |         + (CAST(r2_s AS DOUBLE) * CAST(r2_s AS DOUBLE))
      |           / CAST(n_s AS DOUBLE)
      |         + (CAST(r2_l AS DOUBLE) * CAST(r2_l AS DOUBLE))
      |           / CAST(n_l AS DOUBLE))
      |      - 3.0 * (CAST(n_total AS DOUBLE) + 1.0))
      |      / (1.0 - CAST(t3t AS DOUBLE)
      |         / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
      |            * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE))),
      |      6) + 0.0 AS h_tie_corrected,
      |    (3.0 / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE)
      |        + 1.0))
      |      * ((CAST(r2_u AS DOUBLE) * CAST(r2_u AS DOUBLE))
      |           / CAST(n_u AS DOUBLE)
      |         + (CAST(r2_h AS DOUBLE) * CAST(r2_h AS DOUBLE))
      |           / CAST(n_h AS DOUBLE)
      |         + (CAST(r2_m AS DOUBLE) * CAST(r2_m AS DOUBLE))
      |           / CAST(n_m AS DOUBLE)
      |         + (CAST(r2_s AS DOUBLE) * CAST(r2_s AS DOUBLE))
      |           / CAST(n_s AS DOUBLE)
      |         + (CAST(r2_l AS DOUBLE) * CAST(r2_l AS DOUBLE))
      |           / CAST(n_l AS DOUBLE))
      |      - 3.0 * (CAST(n_total AS DOUBLE) + 1.0))
      |      / (1.0 - CAST(t3t AS DOUBLE)
      |         / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
      |            * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE)))
      |      >= 9.487729037 AS reject_95
      |  FROM wide),
      |g(priority) AS (VALUES ('1-URGENT'), ('2-HIGH'), ('3-MEDIUM'),
      |  ('4-NOT SPECIFIED'), ('5-LOW'))
      |SELECT priority,
      |  CASE priority WHEN '1-URGENT' THEN n_u WHEN '2-HIGH' THEN n_h
      |    WHEN '3-MEDIUM' THEN n_m WHEN '4-NOT SPECIFIED' THEN n_s
      |    ELSE n_l END AS n_lines,
      |  CAST(CASE priority WHEN '1-URGENT' THEN r2_u
      |    WHEN '2-HIGH' THEN r2_h WHEN '3-MEDIUM' THEN r2_m
      |    WHEN '4-NOT SPECIFIED' THEN r2_s ELSE r2_l END AS DOUBLE)
      |    AS rank_sum_x2,
      |  n_total, h_stat, h_tie_corrected, 4 AS df, reject_95
      |FROM scored CROSS JOIN g
      |ORDER BY priority""".stripMargin

  // --------------------------------------------------------------- q331
  /** Expected / maximum calibration error for q263's churn score:
    * ECE = Σ_b (n_b/N)·|acc_b − conf_b| and MCE = max_b |acc_b −
    * conf_b| over the same score bins q263 Brier-scores — the
    * reliability-diagram summary numbers (Guo et al.'s recalibration
    * metric). Brier mixes calibration with resolution; ECE isolates
    * the calibration gap a temperature-scaling pass would fix. Bins
    * are the exact distinct score inputs (each carries one predicted
    * probability), so no binning convention can disagree.
    *
    * Exactness: the per-bin weighted gap collapses to |k − n·p| — an
    * EXACT decimal (k integer, n·p at scale 9), so the ECE numerator
    * is an exact decimal sum and ECE is one closing double division;
    * MCE maxes the 6-dp-rounded per-bin double gaps (identical chains
    * both sides).
    *
    * Scale shape: q263's per-customer agg → |score domain| bins; the
    * reduction is a census agg, no window. */
  def q331CalibrationError(spark: SparkSession, dir: String): DataFrame = {
    val act = Kpis.table(spark, dir, "orders")
      .withColumn("yr", year(col("o_orderdate")))
      .filter(col("yr").between(1995, 2000))
      .groupBy(col("o_custkey"))
      .agg(
        sum(when(col("yr") <= 1997, 1L).otherwise(0L)).as("x0"),
        max(when(col("yr") >= 1998, 1L).otherwise(0L)).as("y0"))
    val xy = Kpis.table(spark, dir, "customer")
      .select(col("c_custkey"))
      .join(act, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("x0"), lit(0L)).as("x"),
        coalesce(col("y0"), lit(0L)).as("y"))
    val p = round(lit(1.0) /
      (lit(1.0) + exp(-(col("x").cast("double") / lit(4.0) - lit(1.0)))), 9)
      .cast("decimal(12,9)")
    val grp = xy.groupBy(col("x"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("k"))
      .withColumn("p", p)
      // |k − n·p| exact at scale 9: the bin's weighted calibration gap
      .withColumn("gap_w",
        abs(col("k").cast("decimal(22,9)") -
          (col("n").cast("decimal(10,0)") * col("p"))
            .cast("decimal(22,9)")).cast("decimal(22,9)"))
      .withColumn("gap_b",
        round(abs(col("k").cast("double") / col("n").cast("double") -
          col("p").cast("double")), 6))
    grp.agg(
      count(lit(1)).as("n_bins"),
      sum(col("n")).as("n_customers"),
      (round(sum(col("gap_w")).cast("double") /
        sum(col("n")).cast("double"), 6) + lit(0.0)).as("ece"),
      (max(col("gap_b")) + lit(0.0)).as("mce"))
  }

  val q331Sql: String =
    """WITH act AS (
      |  SELECT o_custkey,
      |    SUM(CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END)
      |      AS x0,
      |    MAX(CASE WHEN year(o_orderdate) >= 1998 THEN 1 ELSE 0 END)
      |      AS y0
      |  FROM orders
      |  WHERE year(o_orderdate) BETWEEN 1995 AND 2000
      |  GROUP BY 1),
      |xy AS (
      |  SELECT COALESCE(x0, 0) AS x, COALESCE(y0, 0) AS y
      |  FROM customer LEFT JOIN act ON c_custkey = o_custkey),
      |grp AS (
      |  SELECT x, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS k,
      |    CAST(round(1.0 / (1.0 + exp(-(CAST(x AS DOUBLE) / 4.0 - 1.0))),
      |      9) AS DECIMAL(12,9)) AS p
      |  FROM xy GROUP BY 1),
      |g2 AS (
      |  SELECT *,
      |    CAST(abs(CAST(k AS DECIMAL(22,9))
      |      - CAST(CAST(n AS DECIMAL(10,0)) * p AS DECIMAL(22,9)))
      |      AS DECIMAL(22,9)) AS gap_w,
      |    round(abs(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
      |      - CAST(p AS DOUBLE)), 6) AS gap_b
      |  FROM grp)
      |SELECT COUNT(*) AS n_bins,
      |  CAST(SUM(n) AS BIGINT) AS n_customers,
      |  round(CAST(SUM(gap_w) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6)
      |    + 0.0 AS ece,
      |  MAX(gap_b) + 0.0 AS mce
      |FROM g2""".stripMargin

  // --------------------------------------------------------------- q367
  /** Split-conformal prediction-interval certificate — the
    * distribution-free UNCERTAINTY wrapper the eval family lacks: q263
    * calibrates probabilities and q331 prices miscalibration, but
    * nothing here certifies an INTERVAL. A deliberately simple point
    * predictor (extended price ≈ β·quantity, β fit as one integer
    * ratio on the calibration half) is wrapped by the split-conformal
    * recipe: absolute calibration residuals, q̂ = the
    * ⌈0.9·(n_cal+1)⌉-th smallest (the finite-sample-valid order
    * statistic, NOT the plug-in 90th percentile), and the certified
    * claim — ≥90% of held-out points fall within ±q̂ — measured on the
    * disjoint test half. Split assignment is the replayable md5 grid.
    * The machinery is predictor-agnostic: the cert holds for ANY fixed
    * point model, which is why it earns a place as an operator.
    *
    * Exactness: β is one integer division (milli-cents per unit), so
    * every residual is an exact BIGINT; the rank index k is integer
    * ceiling arithmetic; q̂ is an exact order statistic; coverage is a
    * single int/int division snapped at 6 dp.
    *
    * Scale shape: one map-combinable fit aggregate, one
    * [[graft.operators.RangeRank.withGlobalRank]] range shuffle over
    * the calibration residuals for the order statistic (never a
    * single-partition window — the oracle's ROW_NUMBER is the fixture-
    * scale spelling), and one map-side broadcast-q̂ coverage aggregate
    * over the test half. All linear. */
  /** The (okey, lnum, y-cents, quantity, md5 split) frame under q367
    * and its streaming twin. */
  private[graft] def conformalBase(spark: SparkSession,
      dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5Hash60
    Kpis.table(spark, dir, "lineitem").select(
      col("l_orderkey").as("okey"), col("l_linenumber").as("lnum"),
      round(col("l_extendedprice") * 100).cast("long").as("y"),
      col("l_quantity").cast("long").as("q"))
      .withColumn("grp", pmod(md5Hash60(concat(lit("conf:"),
        col("okey").cast("string"), lit("-"), col("lnum").cast("string"))),
        lit(2L)))
  }

  /** q367's frozen fit — ONE row (beta, n_cal, k, qhat) from the
    * calibration half; the artifact the streaming gate
    * ([[graft.streaming.ConformalStream]]) captures at query start. */
  private[graft] def conformalFit(spark: SparkSession,
      dir: String): DataFrame =
    conformalFitFrom(conformalBase(spark, dir).filter(col("grp") === 0L))

  /** [[conformalFit]] over an already-resolved calibration half — lets
    * q367 materialize [[conformalBase]] ONCE and feed both halves from
    * it (r17: the fit previously re-scanned lineitem and re-hashed the
    * md5 split three times — fit aggregate, residual frame, n_cal
    * count; n_cal now counts `cal` directly, the same count since the
    * residual frame is 1:1 with it). */
  private[graft] def conformalFitFrom(cal: DataFrame): DataFrame = {
    val fit = broadcast(cal.agg(
      expr("sum(y * 1000) div sum(q)").as("beta")))
    val calR = cal.crossJoin(fit)
      .select(abs(col("y") * 1000L - col("beta") * col("q")).as("r"),
        col("okey"), col("lnum"))
    val nk = broadcast(cal.agg(count(lit(1)).as("n_cal"))
      .select(col("n_cal"), expr("((n_cal + 1) * 9 + 9) div 10").as("k")))
    graft.operators.RangeRank
      .withGlobalRank(calR, "rk", Seq(col("r"), col("okey"), col("lnum")))
      .crossJoin(nk)
      .filter(col("rk") === col("k"))
      .crossJoin(fit)
      .select(col("beta"), col("n_cal"), col("k"), col("r").as("qhat"))
  }

  def q367ConformalCert(spark: SparkSession, dir: String): DataFrame = {
    // ONE fact-scale pass (r17): the md5-split base materializes once;
    // the calibration fit, the residual rank pass, and the test-half
    // coverage all read the checkpoint instead of re-scanning lineitem
    // (4 scans, each re-hashing the split md5, before).
    val base = graft.plans.Eager.ckpt(conformalBase(spark, dir))
    val tst = base.filter(col("grp") === 1L)
    val qhat = broadcast(conformalFitFrom(base.filter(col("grp") === 0L)))
    tst.crossJoin(qhat)
      .select(col("n_cal"), col("k"), col("qhat"),
        when(abs(col("y") * 1000L - col("beta") * col("q")) <= col("qhat"),
          1L).otherwise(0L).as("inside"))
      .groupBy(col("n_cal"), col("k"), col("qhat"))
      .agg(count(lit(1)).as("n_test"), sum(col("inside")).as("n_inside"))
      .select(col("n_cal"), col("n_test"), col("k"),
        col("qhat").as("qhat_millicents"),
        (round(col("n_inside").cast("double") /
          col("n_test").cast("double"), 6) + lit(0.0)).as("coverage"),
        (round(col("n_inside").cast("double") /
          col("n_test").cast("double") - 0.9, 6) + lit(0.0))
          .as("coverage_gap"))
  }

  val q367Sql: String = {
    import graft.functions.TextFunctions.md5Hash60Sql
    val h = md5Hash60Sql(
      "'conf:' || CAST(l_orderkey AS VARCHAR) || '-' || " +
        "CAST(l_linenumber AS VARCHAR)")
    s"""WITH base AS (
      |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
      |    CAST(l_quantity AS BIGINT) AS q,
      |    ($h) % 2 AS grp
      |  FROM lineitem),
      |fit AS (SELECT CAST(SUM(y * 1000) // SUM(q) AS BIGINT) AS beta
      |        FROM base WHERE grp = 0),
      |calr AS (SELECT abs(y * 1000 - beta * q) AS r
      |         FROM base, fit WHERE grp = 0),
      |nk AS (SELECT COUNT(*) AS n_cal,
      |         ((COUNT(*) + 1) * 9 + 9) // 10 AS k FROM calr),
      |qh AS (SELECT r AS qhat, n_cal, k FROM
      |         (SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rk FROM calr),
      |         nk
      |       WHERE rk = k),
      |cov AS (
      |  SELECT n_cal, k, qhat, COUNT(*) AS n_test,
      |    SUM(CASE WHEN abs(y * 1000 - beta * q) <= qhat
      |        THEN 1 ELSE 0 END) AS n_inside
      |  FROM base, fit, qh WHERE grp = 1
      |  GROUP BY n_cal, k, qhat)
      |SELECT n_cal, n_test, k, qhat AS qhat_millicents,
      |  round(CAST(n_inside AS DOUBLE) / CAST(n_test AS DOUBLE), 6) + 0.0
      |    AS coverage,
      |  round(CAST(n_inside AS DOUBLE) / CAST(n_test AS DOUBLE) - 0.9, 6)
      |    + 0.0 AS coverage_gap
      |FROM cov""".stripMargin
  }

  // --------------------------------------------------------------- q369
  /** Isotonic recalibration of the retention score — the FIX for what
    * q263 diagnoses: q263's reliability diagram shows where the
    * logistic score's probabilities drift from observed rates; the
    * monotone (isotonic) regression of observed rate on score is the
    * standard recalibration map (the pool-adjacent-violators fit).
    * Computed RELATIONALLY via the minimax identity — iso(i) =
    * max_{j≤i} min_{l≥i} rate(j..l) over contiguous bin intervals —
    * which equals the PAVA solution exactly (HoltWinters-style fold
    * avoided: the identity needs no sequential state, just three
    * census-scale non-equi joins, so it parallelizes trivially).
    * Output: per score bin, the raw observed rate beside its monotone
    * recalibrated rate — the lookup table a scorer applies at
    * inference.
    *
    * Exactness: interval sums are exact integers; each interval rate
    * is ONE int/int division (identical doubles both engines); min/max
    * over identical double sets agree; emitted rates snap at 6 dp.
    *
    * Scale shape: orders collapse to per-customer (x, y) in one
    * map-combinable agg ([[retentionXy]]); bins are the ≤|max orders|
    * census, checkpointed once; the interval triangle and minimax
    * joins are broadcast non-equi joins over ≤B³ census rows (B ≈ 30),
    * constant in the corpus. */
  def q369IsotonicCalibration(spark: SparkSession, dir: String): DataFrame = {
    val census = graft.plans.Eager.ckpt(
      retentionXy(spark, dir).groupBy(col("x"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("k")))
    val jF = census.select(col("x").as("j"))
    val lF = census.select(col("x").as("l"))
    val tF = census.select(col("x").as("t"), col("n").as("tn"),
      col("k").as("tk"))
    val iv = jF.join(broadcast(lF), col("j") <= col("l"))
      .join(broadcast(tF), col("t") >= col("j") && col("t") <= col("l"))
      .groupBy(col("j"), col("l"))
      .agg((sum(col("tk")).cast("double") / sum(col("tn")).cast("double"))
        .as("rate"))
    val minr = census.select(col("x").as("i"))
      .join(broadcast(iv), col("j") <= col("i") && col("l") >= col("i"))
      .groupBy(col("i"), col("j"))
      .agg(min(col("rate")).as("minr"))
    val iso = minr.groupBy(col("i")).agg(max(col("minr")).as("iso"))
    census.join(broadcast(iso), col("x") === col("i"))
      .select(col("x").as("p1_orders"), col("n").as("n_customers"),
        col("k").as("k_active"),
        (round(col("k").cast("double") / col("n").cast("double"), 6) +
          lit(0.0)).as("raw_rate"),
        (round(col("iso"), 6) + lit(0.0)).as("iso_rate"))
      .orderBy("p1_orders")
  }

  val q369Sql: String = retentionXyCte +
    """,
      |census AS (
      |  SELECT x, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS k
      |  FROM xy GROUP BY 1),
      |iv AS (
      |  SELECT j.x AS j, l.x AS l,
      |    CAST(SUM(t.k) AS DOUBLE) / CAST(SUM(t.n) AS DOUBLE) AS rate
      |  FROM census j JOIN census l ON j.x <= l.x
      |  JOIN census t ON t.x >= j.x AND t.x <= l.x
      |  GROUP BY 1, 2),
      |minr AS (
      |  SELECT i.x AS i, iv.j, MIN(iv.rate) AS minr
      |  FROM census i JOIN iv ON iv.j <= i.x AND iv.l >= i.x
      |  GROUP BY 1, 2),
      |iso AS (SELECT i, MAX(minr) AS iso FROM minr GROUP BY 1)
      |SELECT c.x AS p1_orders, c.n AS n_customers, c.k AS k_active,
      |  round(CAST(c.k AS DOUBLE) / CAST(c.n AS DOUBLE), 6) + 0.0
      |    AS raw_rate,
      |  round(iso.iso, 6) + 0.0 AS iso_rate
      |FROM census c JOIN iso ON c.x = iso.i
      |ORDER BY p1_orders""".stripMargin

  // --------------------------------------------------------------- q387
  /** Wald's SPRT monitor — the third sequential design beside q316's
    * group-sequential looks and q172's fixed-horizon permutation test:
    * the SPRT watches a Bernoulli stream (here: is the event a
    * purchase?) day by day and stops the moment the cumulative
    * log-likelihood ratio between H₁ (p = 0.22) and H₀ (p = 0.18)
    * leaves (ln β/(1−α), ln (1−β)/α) — the design with the smallest
    * EXPECTED sample size at the design points, which is why ops
    * monitors (quality gates, canary analysis) prefer it over fixed
    * looks. Run per md5 arm: cumulative purchases/events by day, the
    * running LLR, the verdict and the day it fired (first boundary
    * crossing), or 'continue' if the data ran out undecided.
    *
    * Exactness: k and n are exact day-census running sums (windows
    * PARTITIONED per arm over the day census); the LLR is
    * k·L₁ + (n−k)·L₀ with the two log terms as shared 9-dp literals
    * (no cross-engine ln); boundaries are ±ln 19 at α = β = 0.05,
    * also 9-dp literals; the first-crossing day is a min over exact
    * comparisons.
    *
    * Scale shape: one map-combinable (arm, day) census off the event
    * stream; running sums and the crossing scan are censuses windows;
    * output is 2 rows. */
  def q387SprtMonitor(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5Hash60
    val L1 = lit(0.200670695)  // round(ln(0.22/0.18), 9)
    val L0 = lit(-0.050010421) // round(ln(0.78/0.82), 9)
    val A = lit(2.944438979)   // round(ln(19), 9) = ln((1-b)/a)
    val byDay = Kpis.eventsTable(spark, dir)
      .withColumn("arm", pmod(md5Hash60(concat(lit("sprt:"),
        col("user_id").cast("string"))), lit(2L)))
      .groupBy(col("arm"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("k"))
    val w = Window.partitionBy(col("arm")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = byDay
      .withColumn("ck", sum(col("k")).over(w))
      .withColumn("cn", sum(col("n")).over(w))
      .withColumn("llr", col("ck").cast("double") * L1 +
        (col("cn") - col("ck")).cast("double") * L0)
    run.groupBy(col("arm"))
      .agg(count(lit(1)).as("days_observed"),
        max(col("cn")).as("n_events"),
        min(when(col("llr") >= A, col("day"))).as("d_h1"),
        min(when(col("llr") <= -A, col("day"))).as("d_h0"),
        (round(max(struct(col("day"), col("llr"))).getField("llr"), 6) +
          lit(0.0)).as("final_llr"))
      .select(col("arm"), col("days_observed"), col("n_events"),
        when(col("d_h1").isNotNull &&
          (col("d_h0").isNull || col("d_h1") <= col("d_h0")),
          lit("accept_h1"))
          .when(col("d_h0").isNotNull, lit("accept_h0"))
          .otherwise(lit("continue")).as("verdict"),
        date_format(least(col("d_h1"), col("d_h0")), "yyyy-MM-dd")
          .as("decision_day"),
        col("final_llr"))
      .orderBy("arm")
  }

  val q387Sql: String = {
    import graft.functions.TextFunctions.md5Hash60Sql
    val h = md5Hash60Sql("'sprt:' || CAST(user_id AS VARCHAR)")
    """WITH byday AS (
      |  SELECT (HASHEXPR) % 2 AS arm, CAST(ts AS DATE) AS day,
      |    COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS k
      |  FROM events GROUP BY 1, 2),
      |run AS (
      |  SELECT *,
      |    SUM(k) OVER (PARTITION BY arm ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ck,
      |    SUM(n) OVER (PARTITION BY arm ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn
      |  FROM byday),
      |l AS (
      |  SELECT *, CAST(ck AS DOUBLE) * 0.200670695
      |    + CAST(cn - ck AS DOUBLE) * (-0.050010421) AS llr
      |  FROM run),
      |agg AS (
      |  SELECT arm, COUNT(*) AS days_observed,
      |    CAST(MAX(cn) AS BIGINT) AS n_events,
      |    MIN(CASE WHEN llr >= 2.944438979 THEN day END) AS d_h1,
      |    MIN(CASE WHEN llr <= -2.944438979 THEN day END) AS d_h0,
      |    round(max_by(llr, day), 6) + 0.0 AS final_llr
      |  FROM l GROUP BY 1)
      |SELECT arm, days_observed, n_events,
      |  CASE WHEN d_h1 IS NOT NULL
      |         AND (d_h0 IS NULL OR d_h1 <= d_h0) THEN 'accept_h1'
      |       WHEN d_h0 IS NOT NULL THEN 'accept_h0'
      |       ELSE 'continue' END AS verdict,
      |  strftime(LEAST(d_h1, d_h0), '%Y-%m-%d') AS decision_day,
      |  final_llr
      |FROM agg ORDER BY arm""".stripMargin
      .replace("(HASHEXPR)", s"($h)")
  }

  // --------------------------------------------------------------- q403
  /** Power-analysis / minimum-detectable-effect table — the planning
    * half the experimentation control plane still lacked: q129 analyzes
    * a finished test, q314/q341 guard its integrity, q316/q387 monitor
    * it; this answers "how large an effect CAN a test of size n see?"
    * BEFORE launch. From the exact corpus variance of order value, for
    * each per-arm n in {1k, 10k, 100k, 1M}: the absolute and relative
    * two-sample MDE at α = 0.05 (two-sided) and power 0.80 —
    * MDE = (z_{α/2} + z_β) · σ · √(2/n) with the standard literal
    * z-grid (1.959964 + 0.841621), the fixed-n dual of q387's
    * fixed-boundary sequential design.
    *
    * Exactness: Σx and Σx² accumulate in exact DECIMAL(38,0) cents (the
    * q315 convention); the variance, σ, and each MDE are ONE fixed-order
    * IEEE chain with literal z constants spelled identically in the
    * twin, snapped at 6 dp.
    *
    * Scale shape: ONE map-combinable aggregate over orders (count + two
    * decimal sums), then a 4-row stack of the 1-row result. Zero
    * shuffle beyond the aggregate; census-bounded by construction. */
  def q403MdeTable(spark: SparkSession, dir: String): DataFrame = {
    val ns = Seq(1000L, 10000L, 100000L, 1000000L)
    val cents = round(col("o_totalprice") * 100).cast("long")
    val s = Kpis.table(spark, dir, "orders")
      .select(cents.as("c"))
      .agg(count(lit(1)).as("n_pop"),
        sum(col("c").cast("decimal(38,0)")).as("s1"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("s2"))
    val z = 1.959964 + 0.841621
    val stacked = s.select(col("n_pop"), col("s1"), col("s2"), expr(
      s"stack(${ns.length}, " + ns.map(n => s"${n}L").mkString(", ") +
        ") as (n_per_arm)"))
    stacked
      .withColumn("mean_cents",
        col("s1").cast("double") / col("n_pop").cast("double"))
      .withColumn("var_cents",
        (col("s2").cast("double") -
          col("s1").cast("double") * col("s1").cast("double") /
            col("n_pop").cast("double")) /
          (col("n_pop").cast("double") - 1.0))
      .select(col("n_per_arm"), col("n_pop"),
        (round(col("mean_cents") / 100.0, 6) + lit(0.0)).as("mean_value"),
        (round(sqrt(col("var_cents")) / 100.0, 6) + lit(0.0)).as("sd_value"),
        (round(lit(z) * sqrt(col("var_cents")) *
          sqrt(lit(2.0) / col("n_per_arm").cast("double")) / 100.0, 6)
          + lit(0.0)).as("mde_abs"),
        (round(lit(z) * sqrt(col("var_cents")) *
          sqrt(lit(2.0) / col("n_per_arm").cast("double")) /
          col("mean_cents"), 6) + lit(0.0)).as("mde_rel"))
      .orderBy("n_per_arm")
  }

  val q403Sql: String = {
    val ns = Seq(1000L, 10000L, 100000L, 1000000L)
    val rows = ns.map(n => s"SELECT CAST($n AS BIGINT) AS n_per_arm")
      .mkString("\n      |  UNION ALL ")
    s"""WITH s AS (
      |  SELECT COUNT(*) AS n_pop,
      |    SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
      |      AS DECIMAL(38,0))) AS s1,
      |    SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
      |      * CAST(round(o_totalprice * 100) AS BIGINT)
      |      AS DECIMAL(38,0))) AS s2
      |  FROM orders),
      |grid AS ($rows),
      |x AS (
      |  SELECT n_per_arm, n_pop,
      |    CAST(s1 AS DOUBLE) / CAST(n_pop AS DOUBLE) AS mean_cents,
      |    (CAST(s2 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      |        / CAST(n_pop AS DOUBLE))
      |      / (CAST(n_pop AS DOUBLE) - 1.0) AS var_cents
      |  FROM grid, s)
      |SELECT n_per_arm, n_pop,
      |  round(mean_cents / 100.0, 6) + 0.0 AS mean_value,
      |  round(sqrt(var_cents) / 100.0, 6) + 0.0 AS sd_value,
      |  round((1.959964 + 0.841621) * sqrt(var_cents)
      |    * sqrt(2.0 / CAST(n_per_arm AS DOUBLE)) / 100.0, 6) + 0.0
      |    AS mde_abs,
      |  round((1.959964 + 0.841621) * sqrt(var_cents)
      |    * sqrt(2.0 / CAST(n_per_arm AS DOUBLE)) / mean_cents, 6) + 0.0
      |    AS mde_rel
      |FROM x ORDER BY n_per_arm""".stripMargin
  }

  def queries: Seq[Query] = Seq(
    Query("q403_mde_table", q403MdeTable _, q403Sql),
    Query("q387_sprt_monitor", q387SprtMonitor _, q387Sql),
    Query("q369_isotonic_calibration", q369IsotonicCalibration _, q369Sql),
    Query("q367_conformal_cert", q367ConformalCert _, q367Sql),
    Query("q331_calibration_error", q331CalibrationError _, q331Sql),
    Query("q325_kruskal_wallis", q325KruskalWallis _, q325Sql),
    Query("q320_bh_fdr", q320BhFdr _, q320Sql),
    Query("q316_sequential_looks", q316SequentialLooks _, q316Sql),
    Query("q314_srm_check", q314SrmCheck _, q314Sql),
    Query("q341_daily_srm", q341DailySrm _, q341Sql),
    Query("q315_cuped_reduction", q315CupedReduction _, q315Sql),
    Query("q291_score_discrimination", q291ScoreDiscrimination _, q291Sql),
    Query("q263_brier_calibration", q263BrierCalibration _, q263Sql),
    Query("q260_mcnemar_activity", q260McnemarActivity _, q260Sql),
    Query("q238_fold_stability", q238FoldStability _, q238Sql),
    Query("q129_ab_test", q129AbTest _, q129Sql),
    Query("q150_ks_drift", q150KsDrift _, q150Sql),
    Query("q172_permutation_test", q172PermutationTest _, q172Sql),
    Query("q203_mann_whitney", q203MannWhitney _, q203Sql))
}
