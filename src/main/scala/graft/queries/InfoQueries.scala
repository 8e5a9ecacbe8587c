package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query

/** Information-theoretic data-quality metrics: column-dependence
  * (mutual information), digit-law conformance (Benford), and
  * distribution drift (per-slice KL divergence) — the audits a corpus
  * pipeline runs to catch leaking joins, fabricated numbers, and
  * source skew before training on the data.
  *
  * Shared exactness recipe (q112's): every ln() is computed on an
  * IDENTICALLY-ASSOCIATED double expression in both engines, rounded
  * to 9 dp and cast to exact decimal; weights are integer counts, so
  * the weighted sums are exact decimal arithmetic and the single
  * closing division is one double op on identical operands.
  */
object InfoQueries {

  import graft.functions.ExactMath.ln9

  // --------------------------------------------------------------- q137
  /** Mutual information (nats) between customer market segment and
    * nation, with both marginal entropies: MI ≈ 0 certifies the two
    * dimensions are independent (what a synthetic generator intends);
    * MI near min(H) flags a dependence that would leak one column
    * through the other in a train/test split.
    *
    * Scale shape: ONE map-combinable hash agg over the entity table
    * produces the |segments|×|nations| joint census (≤125 rows);
    * marginals and totals are windows OVER THAT CENSUS, never a second
    * data pass; the three entropy sums collapse on one row. */
  def q137MutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val joint = Kpis.table(spark, dir, "customer")
      .groupBy(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"))
      .agg(count(lit(1)).as("cxy"))
    val withMarginals = joint
      .withColumn("cx", sum(col("cxy")).over(Window.partitionBy(col("seg"))))
      .withColumn("cy", sum(col("cxy")).over(Window.partitionBy(col("nat"))))
      .withColumn("n", sum(col("cxy")).over(Window.partitionBy()))
    val dbl = (c: String) => col(c).cast("double")
    withMarginals
      .select(col("cxy"), col("cx"), col("cy"), col("n"),
        (ln9(dbl("cxy") * dbl("n") / (dbl("cx") * dbl("cy"))) * col("cxy"))
          .as("mi_w"),
        // entropy terms are per-(x,y) cell but weighted so each marginal
        // cell counts once: cxy/cx of the seg term per joint row sums to 1
        // per segment — algebraically Σ cxy·ln(n/cx) / n = H(seg).
        (ln9(dbl("n") / dbl("cx")) * col("cxy")).as("hx_w"),
        (ln9(dbl("n") / dbl("cy")) * col("cxy")).as("hy_w"))
      .agg(
        max(col("n")).as("n_customers"),
        (sum(col("mi_w")).cast("double") / max(col("n")).cast("double"))
          .as("mi_nats"),
        (sum(col("hx_w")).cast("double") / max(col("n")).cast("double"))
          .as("h_segment"),
        (sum(col("hy_w")).cast("double") / max(col("n")).cast("double"))
          .as("h_nation"))
  }

  val q137Sql: String =
    """WITH joint AS (
      |  SELECT c_mktsegment AS seg, c_nationkey AS nat, COUNT(*) AS cxy
      |  FROM customer GROUP BY 1, 2),
      |m AS (
      |  SELECT cxy,
      |    SUM(cxy) OVER (PARTITION BY seg) AS cx,
      |    SUM(cxy) OVER (PARTITION BY nat) AS cy,
      |    SUM(cxy) OVER () AS n
      |  FROM joint),
      |terms AS (
      |  SELECT cxy, n,
      |    CAST(round(ln(CAST(cxy AS DOUBLE) * CAST(n AS DOUBLE)
      |           / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))), 9)
      |         AS DECIMAL(12,9)) * cxy AS mi_w,
      |    CAST(round(ln(CAST(n AS DOUBLE) / CAST(cx AS DOUBLE)), 9)
      |         AS DECIMAL(12,9)) * cxy AS hx_w,
      |    CAST(round(ln(CAST(n AS DOUBLE) / CAST(cy AS DOUBLE)), 9)
      |         AS DECIMAL(12,9)) * cxy AS hy_w
      |  FROM m)
      |SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
      |  CAST(SUM(mi_w) AS DOUBLE) / CAST(MAX(n) AS DOUBLE) AS mi_nats,
      |  CAST(SUM(hx_w) AS DOUBLE) / CAST(MAX(n) AS DOUBLE) AS h_segment,
      |  CAST(SUM(hy_w) AS DOUBLE) / CAST(MAX(n) AS DOUBLE) AS h_nation
      |FROM terms""".stripMargin

  // --------------------------------------------------------------- q138
  /** Benford first-digit audit of order totals: observed leading-digit
    * counts vs Benford's log₁₀(1+1/d) expectation, with each digit's
    * χ² contribution. Fabricated or unit-capped monetary columns jump
    * out here long before a distribution test on the values would.
    *
    * The leading digit is extracted in EXACT integer space — 2-dp
    * prices to cents via round, then integer division by 10^(len−1) —
    * never via floor(log10(x)), whose ulp behavior at powers of ten
    * differs between engines.
    *
    * Scale shape: digit extraction is per-row scalar work inside the
    * scan, one 9-group map-combinable agg on top. */
  def q138BenfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    // explicit floor, NOT a long cast: Spark's double→long cast truncates
    // but DuckDB's ROUNDS — floor is the one spelling both engines share
    val digit = floor(col("cents").cast("double") /
      pow(lit(10.0), length(col("cents").cast("string")) - 1))
    val expected =
      ln9(lit(1.0) + lit(1.0) / col("digit").cast("double")).cast("double") /
        ln9(lit(10.0)).cast("double")
    Kpis.table(spark, dir, "orders")
      .select(cents.as("cents"))
      .select(digit.as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n_orders"))
      .withColumn("n_total", sum(col("n_orders")).over(Window.partitionBy()))
      .withColumn("expected_freq", expected)
      .withColumn("chi2_term", {
        val exp = col("expected_freq") * col("n_total").cast("double")
        val diff = col("n_orders").cast("double") - exp
        diff * diff / exp
      })
      .select("digit", "n_orders", "expected_freq", "chi2_term")
      .orderBy("digit")
  }

  val q138Sql: String =
    """WITH digits AS (
      |  SELECT CAST(FLOOR(CAST(cents AS DOUBLE)
      |              / POWER(10.0, LENGTH(CAST(cents AS VARCHAR)) - 1))
      |              AS BIGINT) AS digit
      |  FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |        FROM orders)),
      |census AS (
      |  SELECT digit, COUNT(*) AS n_orders FROM digits GROUP BY 1),
      |freq AS (
      |  SELECT digit, n_orders, SUM(n_orders) OVER () AS n_total,
      |    CAST(CAST(round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)), 9)
      |              AS DECIMAL(12,9)) AS DOUBLE)
      |      / CAST(CAST(round(ln(10.0), 9) AS DECIMAL(12,9)) AS DOUBLE)
      |      AS expected_freq
      |  FROM census)
      |SELECT digit, n_orders, expected_freq,
      |  (CAST(n_orders AS DOUBLE) - expected_freq * CAST(n_total AS DOUBLE))
      |    * (CAST(n_orders AS DOUBLE) - expected_freq * CAST(n_total AS DOUBLE))
      |    / (expected_freq * CAST(n_total AS DOUBLE)) AS chi2_term
      |FROM freq ORDER BY digit""".stripMargin

  // --------------------------------------------------------------- q140
  /** Per-source language drift: KL(P(lang|source) ‖ P(lang)) in nats
    * for every document source — the standard skew monitor for a
    * multi-source corpus (a crawler that silently went monolingual
    * shows up as a KL spike while every per-language count still looks
    * plausible).
    *
    * Scale shape: one map-combinable (source, lang) census off the
    * scan; source/corpus marginals are windows over the census (≤
    * |sources|·|langs| rows); final agg by source. */
  def q140SourceLangKl(spark: SparkSession, dir: String): DataFrame = {
    val census = Kpis.table(spark, dir, "documents")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("cls"))
    val dbl = (c: String) => col(c).cast("double")
    census
      .withColumn("cs", sum(col("cls")).over(Window.partitionBy(col("source"))))
      .withColumn("cl", sum(col("cls")).over(Window.partitionBy(col("lang"))))
      .withColumn("n", sum(col("cls")).over(Window.partitionBy()))
      .select(col("source"), col("cs"),
        (ln9(dbl("cls") * dbl("n") / (dbl("cs") * dbl("cl"))) * col("cls"))
          .as("kl_w"))
      .groupBy(col("source"))
      .agg(
        max(col("cs")).as("n_docs"),
        (sum(col("kl_w")).cast("double") / max(col("cs")).cast("double"))
          .as("kl_nats"))
      .orderBy("source")
  }

  val q140Sql: String =
    """WITH census AS (
      |  SELECT source, lang, COUNT(*) AS cls
      |  FROM documents GROUP BY 1, 2),
      |m AS (
      |  SELECT source, cls,
      |    SUM(cls) OVER (PARTITION BY source) AS cs,
      |    SUM(cls) OVER (PARTITION BY lang) AS cl,
      |    SUM(cls) OVER () AS n
      |  FROM census)
      |SELECT source, CAST(MAX(cs) AS BIGINT) AS n_docs,
      |  CAST(SUM(CAST(round(ln(CAST(cls AS DOUBLE) * CAST(n AS DOUBLE)
      |         / (CAST(cs AS DOUBLE) * CAST(cl AS DOUBLE))), 9)
      |       AS DECIMAL(12,9)) * cls) AS DOUBLE)
      |    / CAST(MAX(cs) AS DOUBLE) AS kl_nats
      |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q179
  /** Pearson chi-square test of independence between customer market
    * segment and order priority, with Cramér's V as the normalized
    * effect size. q137 measures the dependence in nats (information);
    * this is the classical TEST form of the same question — the number
    * an experimentation/QA gate actually thresholds (χ² far above dof
    * ⇒ the generator leaked one column into the other).
    *
    * Exactness: observed counts are exact BIGINTs from ONE hash agg;
    * each cell's χ² term is computed in doubles through an identical
    * chain, then snapped to the 9-dp decimal grid (the q137 ln9
    * convention — makes the 25-term sum order-independent and hence
    * engine-independent), summed exactly, and only then divided. dof
    * and the V normalizer come from exact distinct counts.
    *
    * Scale shape: one map-combinable agg over the orders↔customer join
    * (broadcast-able customer at dim scale; at fact-scale both sides
    * hash-shuffle once on custkey) down to the ≤|seg|·|pri| census;
    * marginals are windows over the census; one output row. */
  def q179Chi2Independence(spark: SparkSession, dir: String): DataFrame = {
    val cust = Kpis.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
    val joint = Kpis.table(spark, dir, "orders")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("seg"), col("o_orderpriority").as("pri"))
      .agg(count(lit(1)).as("o"))
    val m = joint
      .withColumn("cx", sum(col("o")).over(Window.partitionBy(col("seg"))))
      .withColumn("cy", sum(col("o")).over(Window.partitionBy(col("pri"))))
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
      .withColumn("nx", size(collect_set(col("seg"))
        .over(Window.partitionBy())))
      .withColumn("ny", size(collect_set(col("pri"))
        .over(Window.partitionBy())))
    val dbl = (c: String) => col(c).cast("double")
    val e = dbl("cx") * dbl("cy") / dbl("n")
    m.select(col("n"), col("nx"), col("ny"),
        round((dbl("o") - e) * (dbl("o") - e) / e, 9)
          .cast("decimal(22,9)").as("term"))
      .agg(
        max(col("n")).as("n_orders"),
        sum(col("term")).cast("double").as("chi2"),
        ((max(col("nx")) - lit(1)) * (max(col("ny")) - lit(1)))
          .cast("long").as("dof"),
        sqrt(sum(col("term")).cast("double") /
          (max(col("n")).cast("double") *
            least(max(col("nx")) - lit(1), max(col("ny")) - lit(1))
              .cast("double"))).as("cramers_v"))
  }

  val q179Sql: String =
    """WITH joint AS (
      |  SELECT c_mktsegment AS seg, o_orderpriority AS pri, COUNT(*) AS o
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |m AS (
      |  SELECT o,
      |    SUM(o) OVER (PARTITION BY seg) AS cx,
      |    SUM(o) OVER (PARTITION BY pri) AS cy,
      |    SUM(o) OVER () AS n,
      |    COUNT(DISTINCT seg) OVER () AS nx,
      |    COUNT(DISTINCT pri) OVER () AS ny
      |  FROM joint),
      |t AS (
      |  SELECT n, nx, ny,
      |    CAST(round((CAST(o AS DOUBLE) -
      |        CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE) / CAST(n AS DOUBLE)) *
      |      (CAST(o AS DOUBLE) -
      |        CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE) / CAST(n AS DOUBLE)) /
      |      (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE) / CAST(n AS DOUBLE)), 9)
      |      AS DECIMAL(22,9)) AS term
      |  FROM m)
      |SELECT CAST(MAX(n) AS BIGINT) AS n_orders,
      |  CAST(SUM(term) AS DOUBLE) AS chi2,
      |  CAST((MAX(nx) - 1) * (MAX(ny) - 1) AS BIGINT) AS dof,
      |  sqrt(CAST(SUM(term) AS DOUBLE) /
      |    (CAST(MAX(n) AS DOUBLE) *
      |     CAST(LEAST(MAX(nx) - 1, MAX(ny) - 1) AS DOUBLE))) AS cramers_v
      |FROM t""".stripMargin

  // --------------------------------------------------------------- q187
  /** Population Stability Index of the document-length distribution per
    * source, against the corpus-wide baseline: PSI = Σ_b (pᵦ−qᵦ)·ln(pᵦ/qᵦ)
    * over fixed 200-char length buckets. THE production drift gate of
    * scoring pipelines (PSI < 0.1 stable, 0.1–0.25 watch, > 0.25 shift)
    * — q140's KL is its asymmetric cousin; PSI is symmetric and is the
    * number risk/quality dashboards actually threshold. A source whose
    * length profile drifts from the corpus is the first sign its crawler
    * or extractor changed behavior.
    *
    * Semantics: the (source × bucket) grid is completed via a cross
    * join of the distinct sides (missing cells = 0) and both
    * distributions get +0.5 additive smoothing per cell — otherwise an
    * empty cell makes ln(p/q) singular; the smoothing is spelled
    * identically in the twin so the statistic is deterministic.
    *
    * Exactness: counts exact; each bucket's PSI term snaps to the 9-dp
    * decimal grid (q137's ln9 convention) so the per-source sum is
    * order-independent; one double division chain per cell before the
    * grid snap, spelled identically both sides.
    *
    * Scale shape: one map-combinable agg to the (source, bucket) census
    * (bucket domain is bounded by max doc length / 200); the grid
    * completion crosses two TINY distinct lists; windows run over the
    * census only. */
  def q187PsiDrift(spark: SparkSession, dir: String): DataFrame = {
    val census = Kpis.table(spark, dir, "documents")
      .groupBy(col("source"), expr("n_chars div 200").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val sources = census.select(col("source")).distinct()
    val buckets = census.select(col("bucket")).distinct()
    val grid = sources.crossJoin(buckets)
      .join(census, Seq("source", "bucket"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val m = grid
      .withColumn("tot_s", sum(col("cnt"))
        .over(Window.partitionBy(col("source"))))
      .withColumn("tot_b", sum(col("cnt"))
        .over(Window.partitionBy(col("bucket"))))
      .withColumn("tot", sum(col("cnt")).over(Window.partitionBy()))
      .withColumn("nb", count(lit(1))
        .over(Window.partitionBy(col("source"))))
    val dbl = (c: String) => col(c).cast("double")
    val p = (dbl("cnt") + lit(0.5)) /
      (dbl("tot_s") + lit(0.5) * dbl("nb"))
    val q = (dbl("tot_b") + lit(0.5)) /
      (dbl("tot") + lit(0.5) * dbl("nb"))
    // the whole (p−q)·ln(p/q) term is one identically-spelled double
    // chain snapped ONCE to the 9-dp grid — the sum is then an exact,
    // order-independent decimal whose unscaled value stays far under
    // 2^53 (PSI is O(10)), so the final cast is exact in both engines
    m.select(col("source"), col("tot_s"),
        round((p - q) * log(p / q), 9).cast("decimal(12,9)").as("term"))
      .groupBy(col("source"))
      .agg(max(col("tot_s")).as("n_docs"),
        sum(col("term")).cast("double").as("psi"))
      .orderBy("source")
  }

  val q187Sql: String =
    """WITH census AS (
      |  SELECT source, n_chars // 200 AS bucket,
      |    COUNT(*) AS cnt
      |  FROM documents GROUP BY 1, 2),
      |grid AS (
      |  SELECT s.source, b.bucket, COALESCE(c.cnt, 0) AS cnt
      |  FROM (SELECT DISTINCT source FROM census) s
      |  CROSS JOIN (SELECT DISTINCT bucket FROM census) b
      |  LEFT JOIN census c ON c.source = s.source AND c.bucket = b.bucket),
      |m AS (
      |  SELECT source, cnt,
      |    SUM(cnt) OVER (PARTITION BY source) AS tot_s,
      |    SUM(cnt) OVER (PARTITION BY bucket) AS tot_b,
      |    SUM(cnt) OVER () AS tot,
      |    COUNT(*) OVER (PARTITION BY source) AS nb
      |  FROM grid),
      |t AS (
      |  SELECT source, tot_s,
      |    CAST(round(
      |      (((CAST(cnt AS DOUBLE) + 0.5) /
      |         (CAST(tot_s AS DOUBLE) + 0.5 * CAST(nb AS DOUBLE))) -
      |       ((CAST(tot_b AS DOUBLE) + 0.5) /
      |         (CAST(tot AS DOUBLE) + 0.5 * CAST(nb AS DOUBLE)))) *
      |      ln(((CAST(cnt AS DOUBLE) + 0.5) /
      |           (CAST(tot_s AS DOUBLE) + 0.5 * CAST(nb AS DOUBLE))) /
      |          ((CAST(tot_b AS DOUBLE) + 0.5) /
      |           (CAST(tot AS DOUBLE) + 0.5 * CAST(nb AS DOUBLE)))), 9)
      |      AS DECIMAL(12,9)) AS term
      |  FROM m)
      |SELECT source, CAST(MAX(tot_s) AS BIGINT) AS n_docs,
      |  CAST(SUM(term) AS DOUBLE) AS psi
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q219
  /** Information-gain feature ranking for the churn label (q206's
    * outcome: did the customer order in 2001?): for each candidate
    * feature — market segment, nation, an account-balance band — the
    * reduction in label entropy IG = H(y) − Σ_v p(v)·H(y|v). The
    * feature-selection audit run before fitting any churn model:
    * it ranks which dimensions are worth splitting on and exposes
    * leakage (a feature with IG ≈ H(y) is a proxy for the label).
    *
    * Exactness: per-(feature, value) counts are exact; each weighted
    * conditional-entropy term p(v)·H(y|v) is one double expression
    * rounded into DECIMAL(16,12) BEFORE the cross-value sum (q208's
    * no-multi-row-double-sum discipline; value sets reach 25 cells);
    * H(y) is a single closed-form double; pure-class cells short-circuit
    * to 0 rather than evaluating ln(0).
    *
    * Scale shape: one orders rollup (hash agg) broadcast-joined onto
    * customer, a 3-way stack unpivot (map-side), one (feature, value)
    * hash agg, one per-feature agg — every frame after the first join
    * is census-scale. */
  def q219FeatureGain(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit("2001-01-01").cast("date")
    val fut = Kpis.table(spark, dir, "orders")
      .filter(to_date(col("o_orderdate")) >= cut)
      .groupBy(col("o_custkey").as("fk")).agg(lit(1L).as("responded"))
    val base = Kpis.table(spark, dir, "customer")
      .join(fut, col("c_custkey") === col("fk"), "left")
      .select(
        coalesce(col("responded"), lit(0L)).as("y"),
        col("c_mktsegment").as("f_segment"),
        col("c_nationkey").cast("string").as("f_nation"),
        when(col("c_acctbal") < 0, "neg")
          .when(col("c_acctbal") < 5000, "low").otherwise("high")
          .as("f_balance_band"))
    val cells = base
      .select(col("y"), expr(
        """stack(3,
          |  'segment', f_segment,
          |  'nation', f_nation,
          |  'balance_band', f_balance_band) AS (feature, value)"""
          .stripMargin))
      .groupBy(col("feature"), col("value"))
      .agg(count(lit(1)).as("nv"), sum(col("y")).as("pv"))
    val tot = base.agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    def hOf(p: Column): Column =
      when(p <= 0.0 || p >= 1.0, 0.0)
        .otherwise(-(p * log(p) + (lit(1.0) - p) * log(lit(1.0) - p)))
    val withTerm = cells.crossJoin(broadcast(tot))
      .withColumn("term",
        round((col("nv").cast("double") / col("n").cast("double")) *
          hOf(col("pv").cast("double") / col("nv").cast("double")), 12)
          .cast("decimal(16,12)"))
    withTerm
      .groupBy(col("feature"), col("n"), col("pos"))
      .agg(count(lit(1)).as("n_values"), sum(col("term")).as("cond_h"))
      .select(
        col("feature"), col("n_values"),
        (round(
          hOf(col("pos").cast("double") / col("n").cast("double")) -
            col("cond_h").cast("double"), 6) + lit(0.0)).as("info_gain"))
      .orderBy("feature")
  }

  val q219Sql: String =
    """WITH fut AS (
      |  SELECT o_custkey, 1 AS responded FROM orders
      |  WHERE CAST(o_orderdate AS DATE) >= DATE '2001-01-01' GROUP BY 1),
      |base AS (
      |  SELECT COALESCE(f.responded, 0) AS y,
      |    c_mktsegment AS f_segment,
      |    CAST(c_nationkey AS VARCHAR) AS f_nation,
      |    CASE WHEN c_acctbal < 0 THEN 'neg'
      |         WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END
      |      AS f_balance_band
      |  FROM customer c LEFT JOIN fut f ON f.o_custkey = c.c_custkey),
      |u AS (
      |  SELECT y, 'segment' AS feature, f_segment AS value FROM base
      |  UNION ALL SELECT y, 'nation', f_nation FROM base
      |  UNION ALL SELECT y, 'balance_band', f_balance_band FROM base),
      |cells AS (
      |  SELECT feature, value, COUNT(*) AS nv,
      |    CAST(SUM(y) AS BIGINT) AS pv
      |  FROM u GROUP BY 1, 2),
      |tot AS (
      |  SELECT COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos FROM base),
      |terms AS (
      |  SELECT feature, n, pos,
      |    CAST(round(
      |      (CAST(nv AS DOUBLE) / CAST(n AS DOUBLE)) *
      |      (CASE WHEN pv = 0 OR pv = nv THEN 0.0
      |            ELSE -((CAST(pv AS DOUBLE) / CAST(nv AS DOUBLE)) *
      |                     ln(CAST(pv AS DOUBLE) / CAST(nv AS DOUBLE)) +
      |                   (1.0 - CAST(pv AS DOUBLE) / CAST(nv AS DOUBLE)) *
      |                     ln(1.0 - CAST(pv AS DOUBLE) / CAST(nv AS DOUBLE)))
      |       END), 12) AS DECIMAL(16,12)) AS term
      |  FROM cells, tot),
      |agg AS (
      |  SELECT feature, n, pos, COUNT(*) AS n_values, SUM(term) AS cond_h
      |  FROM terms GROUP BY 1, 2, 3)
      |SELECT feature, n_values,
      |  round(
      |    (CASE WHEN pos = 0 OR pos = n THEN 0.0
      |          ELSE -((CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)) *
      |                   ln(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)) +
      |                 (1.0 - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)) *
      |                   ln(1.0 - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)))
      |     END) - CAST(cond_h AS DOUBLE), 6) + 0.0 AS info_gain
      |FROM agg ORDER BY feature""".stripMargin

  // --------------------------------------------------------------- q239
  /** Pearson-residual drill-down of the q179 segment × priority
    * contingency: per cell, observed, independence-expected count, and
    * the standardized residual (o − e)/√e, all 25 cells ordered by
    * |residual|. q179 answers WHETHER the table deviates from
    * independence; this is the follow-up every analyst runs — WHICH
    * segment/priority pairs carry the deviation, with |r| ≳ 2 the
    * usual attention line.
    *
    * Exactness: observed and marginal counts are exact integers; e and
    * r are single double expressions over them, 6 dp, −0.0-guarded;
    * ordering is deterministic (|r| desc, seg, pri).
    *
    * Scale shape: one fact join + hash agg to cells; marginals are
    * windows PARTITIONED by seg/pri plus one global sum over the
    * 25-cell census (WindowGuardSpec covers q179's identical sites). */
  def q239ResidualCells(spark: SparkSession, dir: String): DataFrame = {
    val cust = Kpis.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
    val joint = Kpis.table(spark, dir, "orders")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("seg"), col("o_orderpriority").as("pri"))
      .agg(count(lit(1)).as("o"))
    val m = joint
      .withColumn("cx", sum(col("o")).over(Window.partitionBy(col("seg"))))
      .withColumn("cy", sum(col("o")).over(Window.partitionBy(col("pri"))))
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
    val e = col("cx").cast("double") * col("cy").cast("double") /
      col("n").cast("double")
    m.select(col("seg"), col("pri"), col("o"),
        (round(e, 6) + lit(0.0)).as("expected"),
        (round((col("o").cast("double") - e) / sqrt(e), 6) + lit(0.0))
          .as("residual"))
      .orderBy(abs(col("residual")).desc, col("seg"), col("pri"))
  }

  val q239Sql: String =
    """WITH joint AS (
      |  SELECT c_mktsegment AS seg, o_orderpriority AS pri,
      |    COUNT(*) AS o
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |m AS (
      |  SELECT seg, pri, o,
      |    SUM(o) OVER (PARTITION BY seg) AS cx,
      |    SUM(o) OVER (PARTITION BY pri) AS cy,
      |    SUM(o) OVER () AS n
      |  FROM joint)
      |SELECT seg, pri, o,
      |  round(CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE) /
      |    CAST(n AS DOUBLE), 6) + 0.0 AS expected,
      |  round((CAST(o AS DOUBLE) -
      |      CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE) / CAST(n AS DOUBLE)) /
      |    sqrt(CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE) /
      |      CAST(n AS DOUBLE)), 6) + 0.0 AS residual
      |FROM m
      |ORDER BY abs(round((CAST(o AS DOUBLE) -
      |    CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE) / CAST(n AS DOUBLE)) /
      |  sqrt(CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE) /
      |    CAST(n AS DOUBLE)), 6) + 0.0) DESC, seg, pri""".stripMargin

  // --------------------------------------------------------------- q257
  /** Pairwise Jensen–Shannon divergence between every two document
    * sources' language distributions — the symmetric, bounded (≤ ln 2)
    * companion to q140's KL-vs-corpus: q140 flags a source that drifted
    * from the corpus mix; this matrix says WHICH sources resemble each
    * other, the input a curation plan needs to merge redundant crawls
    * or balance a mixture (two sources with JS ≈ 0 are interchangeable
    * supply; a pair near ln 2 covers disjoint languages).
    *
    * Exactness: the (source, lang) census is exact integer counts; the
    * grid is DENSIFIED (every source × every observed lang, absent
    * cells = 0) so zero-probability terms are an explicit CASE → exact
    * 0 in both engines rather than a missing row. Each pair-lang JS
    * term is one double chain with identical association —
    * ½·(p·ln(2p/(p+q)) + q·ln(2q/(p+q))) — snapped to the 9-dp
    * DECIMAL(12,9) grid (the q179 convention: the snap absorbs libm
    * ulp differences and makes the ≤|langs|-term sum order-independent);
    * the per-pair sum is exact decimal arithmetic, emitted as one
    * double.
    *
    * Scale shape: ONE map-combinable hash agg collapses the corpus to
    * the |sources|·|langs| census; everything after — densify, pair
    * self-join on lang, term sum — runs on census-scale rows
    * (|sources|²·|langs| ≪ data). At 10⁶ sources the pair matrix, not
    * the corpus, would be the object that needs pruning (band by a
    * coarse mix signature first); at catalog scale (10²–10³ sources)
    * the full matrix is the product. */
  def q257SourceJsMatrix(spark: SparkSession, dir: String): DataFrame = {
    val census = Kpis.table(spark, dir, "documents")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
    val sources = census.select(col("source")).distinct()
    val langs = census.select(col("lang")).distinct()
    val grid = sources.crossJoin(broadcast(langs))
      .join(census, Seq("source", "lang"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("source"))))
    val a = grid.select(col("source").as("source_a"), col("lang"),
      col("c").as("ca"), col("n").as("na"))
    val b = grid.select(col("source").as("source_b"), col("lang"),
      col("c").as("cb"), col("n").as("nb"))
    val p = col("ca").cast("double") / col("na").cast("double")
    val qq = col("cb").cast("double") / col("nb").cast("double")
    val halfA = when(col("ca") === 0, lit(0.0))
      .otherwise(p * log(lit(2.0) * p / (p + qq)))
    val halfB = when(col("cb") === 0, lit(0.0))
      .otherwise(qq * log(lit(2.0) * qq / (p + qq)))
    a.join(b, Seq("lang"))
      .filter(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        round(lit(0.5) * (halfA + halfB), 9).cast("decimal(12,9)").as("t"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("t")).cast("double").as("js_nats"))
      .orderBy("source_a", "source_b")
  }

  val q257Sql: String =
    """WITH census AS (
      |  SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2),
      |grid AS (
      |  SELECT s.source, l.lang, COALESCE(c.c, 0) AS c
      |  FROM (SELECT DISTINCT source FROM census) s
      |  CROSS JOIN (SELECT DISTINCT lang FROM census) l
      |  LEFT JOIN census c ON c.source = s.source AND c.lang = l.lang),
      |g AS (
      |  SELECT source, lang, c, SUM(c) OVER (PARTITION BY source) AS n
      |  FROM grid),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE) AS p,
      |    CAST(b.c AS DOUBLE) / CAST(b.n AS DOUBLE) AS q
      |  FROM g a JOIN g b ON a.lang = b.lang AND a.source < b.source),
      |terms AS (
      |  SELECT source_a, source_b,
      |    CAST(round(0.5 * (
      |      CASE WHEN p = 0 THEN 0.0 ELSE p * ln(2 * p / (p + q)) END +
      |      CASE WHEN q = 0 THEN 0.0 ELSE q * ln(2 * q / (p + q)) END), 9)
      |      AS DECIMAL(12,9)) AS t
      |  FROM pairs)
      |SELECT source_a, source_b, CAST(SUM(t) AS DOUBLE) AS js_nats
      |FROM terms GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q259
  /** Entropy rate of the per-user event-type chain: for each current
    * state c, the conditional next-step entropy H(next | cur = c) in
    * nats, alongside the unconditional H(next) and the information gain
    * H(next) − H(next|c). The sequence-predictability companion to
    * q103's transition matrix and q214's stationary distribution:
    * gain ≈ 0 says the chain is memoryless (knowing the current event
    * doesn't help predict the next — sessionization features are
    * useless); a state with a large gain is a strong predictor (e.g.
    * "error" funnels into a narrow follow-up set).
    *
    * Exactness: transitions use q103's deterministic per-user lead
    * (total order ts, event_id); the |types|² cell census is exact
    * BIGINTs; every entropy term is a count-weighted ln9 on the exact
    * decimal grid (q137's convention — the marginal H(next) is summed
    * over CELLS with weight c_cn, algebraically identical to the
    * per-state sum since Σ_cur c_cn = c_n); the two divisions and one
    * subtraction are double ops on identical operands.
    *
    * Scale shape: the per-user lead window is q34's sessionization
    * partitioning (state bounded by one user's events); ONE hash agg
    * collapses to the ≤|types|² census; marginals are windows over the
    * census; the global row is a 1-row broadcast. */
  def q259EntropyRate(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val tr = Kpis.eventsTable(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("cur_type"), col("next_type"))
      .agg(count(lit(1)).as("c"))
    val dbl = (c: String) => col(c).cast("double")
    val cells = tr
      .withColumn("cc", sum(col("c")).over(Window.partitionBy(col("cur_type"))))
      .withColumn("cn", sum(col("c")).over(Window.partitionBy(col("next_type"))))
      .withColumn("nn", sum(col("c")).over(Window.partitionBy()))
      .select(col("cur_type"), col("c"), col("cc"), col("nn"),
        (ln9(dbl("cc") / dbl("c")) * col("c")).as("hc_w"),
        (ln9(dbl("nn") / dbl("cn")) * col("c")).as("hn_w"))
    val byCur = cells.groupBy(col("cur_type"))
      .agg(max(col("cc")).as("n_from"),
        (sum(col("hc_w")).cast("double") / max(col("cc")).cast("double"))
          .as("h_cond_nats"))
    val g = cells.agg(
      (sum(col("hn_w")).cast("double") / max(col("nn")).cast("double"))
        .as("h_next_nats"))
    byCur.crossJoin(broadcast(g))
      .select(col("cur_type"), col("n_from"), col("h_cond_nats"),
        col("h_next_nats"),
        (col("h_next_nats") - col("h_cond_nats")).as("info_gain_nats"))
      .orderBy("cur_type")
  }

  val q259Sql: String =
    """WITH tr0 AS (
      |  SELECT event_type AS cur_type,
      |    LEAD(event_type, 1) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |tr AS (
      |  SELECT cur_type, next_type, COUNT(*) AS c
      |  FROM tr0 WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |m AS (
      |  SELECT cur_type, c,
      |    SUM(c) OVER (PARTITION BY cur_type) AS cc,
      |    SUM(c) OVER (PARTITION BY next_type) AS cn,
      |    SUM(c) OVER () AS nn
      |  FROM tr),
      |cells AS (
      |  SELECT cur_type, c, cc, nn,
      |    CAST(round(ln(CAST(cc AS DOUBLE) / CAST(c AS DOUBLE)), 9)
      |      AS DECIMAL(12,9)) * c AS hc_w,
      |    CAST(round(ln(CAST(nn AS DOUBLE) / CAST(cn AS DOUBLE)), 9)
      |      AS DECIMAL(12,9)) * c AS hn_w
      |  FROM m),
      |bycur AS (
      |  SELECT cur_type, CAST(MAX(cc) AS BIGINT) AS n_from,
      |    CAST(SUM(hc_w) AS DOUBLE) / CAST(MAX(cc) AS DOUBLE)
      |      AS h_cond_nats
      |  FROM cells GROUP BY 1),
      |g AS (
      |  SELECT CAST(SUM(hn_w) AS DOUBLE) / CAST(MAX(nn) AS DOUBLE)
      |    AS h_next_nats
      |  FROM cells)
      |SELECT cur_type, n_from, h_cond_nats, h_next_nats,
      |  h_next_nats - h_cond_nats AS info_gain_nats
      |FROM bycur, g ORDER BY cur_type""".stripMargin

  // --------------------------------------------------------------- q284
  /** Cents-heaping audit of order totals: the distribution of the last
    * two digits (price mod 1 dollar, in cents) against the uniform
    * expectation, emitting every cell's count, its ratio to uniform,
    * and its χ² contribution. The MODULO companion to q138's Benford
    * leading-digit test: Benford catches fabricated MAGNITUDES; digit
    * preference ("heaping" at .00/.50/.99) catches hand-entered or
    * psychologically-priced values and rounding bugs — a synthetic
    * generator should be FLAT here, so any spike is a data-lineage
    * finding.
    *
    * Exactness: cents are exact integers (round to cents, then mod
    * 100 in integer space); counts exact; ratio and χ² terms are
    * single double expressions, 6-dp-rounded.
    *
    * Scale shape: per-row integer scalar + one 100-cell map-combinable
    * agg; the total is a window over the 100-cell census. */
  def q284CentsHeaping(spark: SparkSession, dir: String): DataFrame = {
    val cents = pmod(round(col("o_totalprice") * 100).cast("long"), lit(100L))
    Kpis.table(spark, dir, "orders")
      .select(cents.as("cents"))
      .groupBy(col("cents"))
      .agg(count(lit(1)).as("n_orders"))
      .withColumn("n_total", sum(col("n_orders")).over(Window.partitionBy()))
      .select(col("cents"), col("n_orders"),
        (round(col("n_orders").cast("double") * lit(100.0) /
          col("n_total").cast("double"), 6) + lit(0.0)).as("ratio_vs_uniform"),
        {
          val e = col("n_total").cast("double") / lit(100.0)
          val d = col("n_orders").cast("double") - e
          (round(d * d / e, 6) + lit(0.0)).as("chi2_term")
        })
      .orderBy("cents")
  }

  val q284Sql: String =
    """WITH c AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) % 100 AS cents
      |  FROM orders),
      |census AS (
      |  SELECT cents, COUNT(*) AS n_orders FROM c GROUP BY 1),
      |m AS (
      |  SELECT cents, n_orders, SUM(n_orders) OVER () AS n_total
      |  FROM census)
      |SELECT cents, n_orders,
      |  round(CAST(n_orders AS DOUBLE) * 100.0 /
      |    CAST(n_total AS DOUBLE), 6) + 0.0 AS ratio_vs_uniform,
      |  round((CAST(n_orders AS DOUBLE) - CAST(n_total AS DOUBLE) / 100.0)
      |    * (CAST(n_orders AS DOUBLE) - CAST(n_total AS DOUBLE) / 100.0)
      |    / (CAST(n_total AS DOUBLE) / 100.0), 6) + 0.0 AS chi2_term
      |FROM m ORDER BY cents""".stripMargin

  // --------------------------------------------------------------- q285
  /** Pairwise Jensen–Shannon divergence between event types' CIRCADIAN
    * profiles (hour-of-day distributions): q194 describes each type's
    * clock shape with circular statistics; this matrix says which
    * types SHARE a clock — JS ≈ 0 pairs ride the same daily rhythm
    * (schedule their pipelines together; one can forecast the other),
    * a pair near ln 2 lives in disjoint hours (batch vs interactive
    * traffic). Same exactness machinery as q257, different axis:
    * q257 compares sources over languages, this compares event types
    * over the 24-hour grid.
    *
    * Exactness: the (type, hour) census is exact; the grid densifies
    * (every type × every observed hour, zero cells explicit); each
    * pair-hour JS term is the q257 double chain snapped to
    * DECIMAL(12,9); per-pair sums are exact decimal; one double out.
    *
    * Scale shape: one map-combinable census off the scan; everything
    * after runs on ≤ |types|²·24 rows. */
  def q285CircadianJs(spark: SparkSession, dir: String): DataFrame = {
    val census = Kpis.eventsTable(spark, dir)
      .groupBy(col("event_type"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("c"))
    val types = census.select(col("event_type")).distinct()
    val hours = census.select(col("hr")).distinct()
    val grid = types.crossJoin(broadcast(hours))
      .join(census, Seq("event_type", "hr"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("n",
        sum(col("c")).over(Window.partitionBy(col("event_type"))))
    val a = grid.select(col("event_type").as("type_a"), col("hr"),
      col("c").as("ca"), col("n").as("na"))
    val b = grid.select(col("event_type").as("type_b"), col("hr"),
      col("c").as("cb"), col("n").as("nb"))
    val p = col("ca").cast("double") / col("na").cast("double")
    val qq = col("cb").cast("double") / col("nb").cast("double")
    val halfA = when(col("ca") === 0, lit(0.0))
      .otherwise(p * log(lit(2.0) * p / (p + qq)))
    val halfB = when(col("cb") === 0, lit(0.0))
      .otherwise(qq * log(lit(2.0) * qq / (p + qq)))
    a.join(b, Seq("hr"))
      .filter(col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        round(lit(0.5) * (halfA + halfB), 9).cast("decimal(12,9)").as("t"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(sum(col("t")).cast("double").as("js_nats"))
      .orderBy("type_a", "type_b")
  }

  val q285Sql: String =
    """WITH census AS (
      |  SELECT event_type, hour(ts) AS hr, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT t.event_type, h.hr, COALESCE(c.c, 0) AS c
      |  FROM (SELECT DISTINCT event_type FROM census) t
      |  CROSS JOIN (SELECT DISTINCT hr FROM census) h
      |  LEFT JOIN census c
      |    ON c.event_type = t.event_type AND c.hr = h.hr),
      |g AS (
      |  SELECT event_type, hr, c,
      |    SUM(c) OVER (PARTITION BY event_type) AS n
      |  FROM grid),
      |pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE) AS p,
      |    CAST(b.c AS DOUBLE) / CAST(b.n AS DOUBLE) AS q,
      |    a.c AS ca, b.c AS cb
      |  FROM g a JOIN g b
      |    ON a.hr = b.hr AND a.event_type < b.event_type),
      |terms AS (
      |  SELECT type_a, type_b,
      |    CAST(round(0.5 * (
      |      CASE WHEN ca = 0 THEN 0.0
      |        ELSE p * ln(2 * p / (p + q)) END +
      |      CASE WHEN cb = 0 THEN 0.0
      |        ELSE q * ln(2 * q / (p + q)) END), 9)
      |      AS DECIMAL(12,9)) AS t
      |  FROM pairs)
      |SELECT type_a, type_b, CAST(SUM(t) AS DOUBLE) AS js_nats
      |FROM terms GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q328
  /** Information-gain feature ranking: which categorical feature —
    * order priority, market segment, or customer nation — tells you
    * most about the order-status label? For each feature F,
    * IG = H(label) − H(label|F) plus Quinlan's gain ratio IG/H(F)
    * (raw IG favors high-arity features like nation; the ratio is the
    * C4.5 correction) — the feature-selection primitive a modeling
    * pipeline runs before training, generalizing q137's single-pair MI
    * to a ranked sweep. One fact pass serves all three features: each
    * row explodes into (feature, value) entries and ONE hash agg builds
    * every contingency cell.
    *
    * Exactness: cells are exact BIGINTs; every entropy term is a
    * count-weighted ln9 on the exact decimal grid (q137/q259
    * convention); the closing divisions are doubles over identical
    * operands.
    *
    * Scale shape: one orders⋈customer join, one 3×-exploded
    * map-combinable agg to ≤ Σ|F_i|·|labels| cells; all windows are
    * PARTITIONED by feature / (feature, value) / (feature, label) over
    * that census. */
  def q328FeatureIg(spark: SparkSession, dir: String): DataFrame = {
    val base = Kpis.table(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderstatus").as("label"),
        col("o_orderpriority"))
      .join(Kpis.table(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
    val cells = base.select(col("label"), explode(array(
        struct(lit("priority").as("feature"),
          col("o_orderpriority").as("fv")),
        struct(lit("segment").as("feature"), col("c_mktsegment").as("fv")),
        struct(lit("nation").as("feature"),
          col("c_nationkey").cast("string").as("fv")))).as("e"))
      .groupBy(col("e.feature").as("feature"), col("e.fv").as("fv"),
        col("label"))
      .agg(count(lit(1)).as("c"))
    val dbl = (c: String) => col(c).cast("double")
    val m = cells
      .withColumn("n", sum(col("c")).over(
        Window.partitionBy(col("feature"))))
      .withColumn("cf", sum(col("c")).over(
        Window.partitionBy(col("feature"), col("fv"))))
      .withColumn("cl", sum(col("c")).over(
        Window.partitionBy(col("feature"), col("label"))))
      .select(col("feature"), col("n"),
        (ln9(dbl("n") / dbl("cl")) * col("c")).as("hl_w"),
        (ln9(dbl("cf") / dbl("c")) * col("c")).as("hc_w"),
        (ln9(dbl("n") / dbl("cf")) * col("c")).as("hf_w"))
    m.groupBy(col("feature"))
      .agg(count(lit(1)).as("n_cells"), max(col("n")).as("n_rows"),
        (sum(col("hl_w")).cast("double") / max(col("n")).cast("double"))
          .as("h_label"),
        (sum(col("hc_w")).cast("double") / max(col("n")).cast("double"))
          .as("h_cond"),
        (sum(col("hf_w")).cast("double") / max(col("n")).cast("double"))
          .as("h_feature"))
      .select(col("feature"), col("n_cells"), col("n_rows"),
        col("h_label"), col("h_cond"), col("h_feature"),
        (col("h_label") - col("h_cond")).as("info_gain"),
        ((col("h_label") - col("h_cond")) / col("h_feature"))
          .as("gain_ratio"))
      .orderBy("feature")
  }

  val q328Sql: String =
    """WITH base AS (
      |  SELECT o_orderstatus AS label, o_orderpriority, c_mktsegment,
      |    c_nationkey
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |cells AS (
      |  SELECT feature, fv, label, COUNT(*) AS c FROM (
      |    SELECT 'priority' AS feature, o_orderpriority AS fv, label
      |    FROM base
      |    UNION ALL
      |    SELECT 'segment', c_mktsegment, label FROM base
      |    UNION ALL
      |    SELECT 'nation', CAST(c_nationkey AS VARCHAR), label FROM base)
      |  GROUP BY 1, 2, 3),
      |m AS (
      |  SELECT feature,
      |    SUM(c) OVER (PARTITION BY feature) AS n,
      |    CAST(round(ln(CAST(SUM(c) OVER (PARTITION BY feature)
      |        AS DOUBLE)
      |      / CAST(SUM(c) OVER (PARTITION BY feature, label) AS DOUBLE)),
      |      9) AS DECIMAL(12,9)) * c AS hl_w,
      |    CAST(round(ln(CAST(SUM(c) OVER (PARTITION BY feature, fv)
      |        AS DOUBLE)
      |      / CAST(c AS DOUBLE)), 9) AS DECIMAL(12,9)) * c AS hc_w,
      |    CAST(round(ln(CAST(SUM(c) OVER (PARTITION BY feature)
      |        AS DOUBLE)
      |      / CAST(SUM(c) OVER (PARTITION BY feature, fv) AS DOUBLE)),
      |      9) AS DECIMAL(12,9)) * c AS hf_w
      |  FROM cells),
      |agg AS (
      |  SELECT feature, COUNT(*) AS n_cells,
      |    CAST(MAX(n) AS BIGINT) AS n_rows,
      |    CAST(SUM(hl_w) AS DOUBLE) / CAST(MAX(n) AS DOUBLE) AS h_label,
      |    CAST(SUM(hc_w) AS DOUBLE) / CAST(MAX(n) AS DOUBLE) AS h_cond,
      |    CAST(SUM(hf_w) AS DOUBLE) / CAST(MAX(n) AS DOUBLE) AS h_feature
      |  FROM m GROUP BY 1)
      |SELECT feature, n_cells, n_rows, h_label, h_cond, h_feature,
      |  h_label - h_cond AS info_gain,
      |  (h_label - h_cond) / h_feature AS gain_ratio
      |FROM agg ORDER BY feature""".stripMargin

  // --------------------------------------------------------------- q338
  /** First-TWO-digit Benford screen — the forensic upgrade of q138's
    * first-digit audit (Nigrini's standard workflow: the 90-cell
    * two-digit test localizes WHERE a distribution was manipulated —
    * psychological price points, threshold-dodging amounts — that the
    * 9-cell test smears). Emits the 90-cell census with expected
    * Benford frequencies log10(1+1/d), per-cell chi-square terms, and
    * the cross-cell MAD (mean absolute deviation of observed vs
    * expected frequency) with Nigrini's two-digit conformity verdict
    * (close < 0.0012 ≤ acceptable < 0.0018 ≤ marginal < 0.0022 ≤
    * nonconforming).
    *
    * Exactness: digit extraction is the q138 floor spelling; expected
    * frequencies come from ln9-snapped logs (no 90-entry literal
    * grid needed — both engines snap identical doubles); the MAD mean
    * is an order-independent 9-dp decimal sum over the FULL 10..99
    * grid (Nigrini's fixed 90-cell denominator: the observed census is
    * left-joined against a generated grid so an empty cell contributes
    * |0 − expected_freq|, not a shrunken denominator); verdict cuts
    * compare identical doubles.
    *
    * Scale shape: one map-combinable census agg to ≤90 cells joined to
    * a broadcast 90-row grid; the total and MAD windows run over that
    * exactly-90-row census (WindowGuard). */
  def q338Benford2Digit(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val d2 = floor(col("cents").cast("double") /
      pow(lit(10.0), length(col("cents").cast("string")) - 2))
    val expected =
      ln9(lit(1.0) + lit(1.0) / col("d2").cast("double")).cast("double") /
        ln9(lit(10.0)).cast("double")
    val grid = spark.range(10, 100).select(col("id").as("d2"))
    val observed = Kpis.table(spark, dir, "orders")
      .select(cents.as("cents"))
      .filter(length(col("cents").cast("string")) >= 2)
      .select(d2.cast("long").as("d2"))
      .groupBy(col("d2"))
      .agg(count(lit(1)).as("n_obs"))
    val census = grid.join(observed, Seq("d2"), "left")
      .withColumn("n_orders", coalesce(col("n_obs"), lit(0L)))
      .drop("n_obs")
      .withColumn("n_total",
        sum(col("n_orders")).over(Window.partitionBy()))
      .withColumn("expected_freq", expected)
      .withColumn("obs_freq",
        col("n_orders").cast("double") / col("n_total").cast("double"))
      .withColumn("abs_dev9",
        round(abs(col("obs_freq") - col("expected_freq")), 9)
          .cast("decimal(12,9)"))
    val mad = census.agg(
      (round(sum(col("abs_dev9")).cast("double") /
        lit(90.0), 6) + lit(0.0)).as("mad"))
      .withColumn("conformity",
        when(col("mad") < 0.0012, "0_close")
          .when(col("mad") < 0.0018, "1_acceptable")
          .when(col("mad") < 0.0022, "2_marginal")
          .otherwise("3_nonconforming"))
    census.crossJoin(broadcast(mad))
      .withColumn("chi2_term", {
        val exp = col("expected_freq") * col("n_total").cast("double")
        val diff = col("n_orders").cast("double") - exp
        diff * diff / exp
      })
      .select(col("d2"), col("n_orders"), col("expected_freq"),
        (round(col("obs_freq"), 6) + lit(0.0)).as("obs_freq"),
        col("chi2_term"), col("mad"), col("conformity"))
      .orderBy("d2")
  }

  val q338Sql: String =
    """WITH digits AS (
      |  SELECT CAST(FLOOR(CAST(cents AS DOUBLE)
      |              / POWER(10.0, LENGTH(CAST(cents AS VARCHAR)) - 2))
      |              AS BIGINT) AS d2
      |  FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |        FROM orders)
      |  WHERE LENGTH(CAST(cents AS VARCHAR)) >= 2),
      |census AS (
      |  SELECT g.d2, COALESCE(o.n_obs, 0) AS n_orders
      |  FROM (SELECT range AS d2 FROM range(10, 100)) g
      |  LEFT JOIN (SELECT d2, COUNT(*) AS n_obs FROM digits GROUP BY 1) o
      |  USING (d2)),
      |freq AS (
      |  SELECT d2, n_orders, SUM(n_orders) OVER () AS n_total,
      |    CAST(CAST(round(ln(1.0 + 1.0 / CAST(d2 AS DOUBLE)), 9)
      |              AS DECIMAL(12,9)) AS DOUBLE)
      |      / CAST(CAST(round(ln(10.0), 9) AS DECIMAL(12,9)) AS DOUBLE)
      |      AS expected_freq
      |  FROM census),
      |f2 AS (
      |  SELECT *,
      |    CAST(n_orders AS DOUBLE) / CAST(n_total AS DOUBLE) AS obs_freq,
      |    CAST(round(abs(CAST(n_orders AS DOUBLE)
      |        / CAST(n_total AS DOUBLE) - expected_freq), 9)
      |      AS DECIMAL(12,9)) AS abs_dev9
      |  FROM freq),
      |m AS (
      |  SELECT round(CAST(SUM(abs_dev9) AS DOUBLE) / 90.0, 6) + 0.0 AS mad
      |  FROM f2),
      |m2 AS (
      |  SELECT mad,
      |    CASE WHEN mad < 0.0012 THEN '0_close'
      |         WHEN mad < 0.0018 THEN '1_acceptable'
      |         WHEN mad < 0.0022 THEN '2_marginal'
      |         ELSE '3_nonconforming' END AS conformity
      |  FROM m)
      |SELECT d2, n_orders, expected_freq,
      |  round(obs_freq, 6) + 0.0 AS obs_freq,
      |  (CAST(n_orders AS DOUBLE) - expected_freq * CAST(n_total AS DOUBLE))
      |    * (CAST(n_orders AS DOUBLE)
      |       - expected_freq * CAST(n_total AS DOUBLE))
      |    / (expected_freq * CAST(n_total AS DOUBLE)) AS chi2_term,
      |  mad, conformity
      |FROM f2 CROSS JOIN m2 ORDER BY d2""".stripMargin

  // --------------------------------------------------------------- q353
  /** Pairwise 1-Wasserstein (earth-mover) distance matrix between the
    * per-nation order-quantity distributions, with the KS statistic
    * beside it — the drift metric the divergence family here lacks: KL
    * (q140), JS (q257/q285), and PSI (q187) are support-pointwise and
    * blind to ORDER (moving mass from qty 1 to qty 2 scores the same as
    * 1 to 50); W₁ = ∫|F_a − F_b| dv prices drift by how far the mass
    * moved, which is what shifting quantity/price distributions mean
    * operationally.
    *
    * Exactness: the census CDFs are exact integer ratios; each support
    * term |cum_a/n_a − cum_b/n_b|·Δv is one deterministic IEEE chain on
    * those integers, snapped to 9 dp and summed as DECIMAL(12,9) (the
    * q257 term convention); KS is the max of the same snapped terms
    * normalized by Δv.
    *
    * Scale shape: one map-side-combinable census (nation × quantity,
    * ≤25×50 rows) is the only fact-scale pass; the dense grid, CDF
    * windows, support-spacing join, and the a<b pair join all run on
    * broadcast census rows (≤31k pair-terms) — constant at any corpus.
    * The fact join to nation is a broadcast dim join. */
  def q353WassersteinMatrix(spark: SparkSession, dir: String): DataFrame = {
    val li = Kpis.table(spark, dir, "lineitem")
    val sup = Kpis.table(spark, dir, "supplier")
    val nat = Kpis.table(spark, dir, "nation")
    val census = li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        col("l_quantity").cast("int").as("v"))
      .agg(count(lit(1)).as("c"))
    val nations = census.select(col("nation")).distinct()
    val support = census.select(col("v")).distinct()
      .withColumn("dv", coalesce(lead(col("v"), 1).over(
        Window.orderBy(col("v"))) - col("v"), lit(0)))
    val grid = nations.crossJoin(broadcast(census.select(col("v")).distinct()))
      .join(census, Seq("nation", "v"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("nation")).orderBy(col("v"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("nation"))))
    val a = grid.select(col("nation").as("nation_a"), col("v"),
      col("cum").as("cua"), col("n").as("na"))
    val b = grid.select(col("nation").as("nation_b"), col("v"),
      col("cum").as("cub"), col("n").as("nb"))
    val gap = abs(col("cua").cast("double") / col("na").cast("double") -
      col("cub").cast("double") / col("nb").cast("double"))
    a.join(b, Seq("v")).filter(col("nation_a") < col("nation_b"))
      .join(broadcast(support), Seq("v"))
      .select(col("nation_a"), col("nation_b"),
        round(gap * col("dv").cast("double"), 9)
          .cast("decimal(12,9)").as("t"),
        round(gap, 9).cast("decimal(12,9)").as("g"))
      .groupBy(col("nation_a"), col("nation_b"))
      .agg(sum(col("t")).cast("double").as("w1_qty"),
        max(col("g")).cast("double").as("ks_qty"))
      .orderBy("nation_a", "nation_b")
  }

  val q353Sql: String =
    """WITH census AS (
      |  SELECT n.n_name AS nation, CAST(l.l_quantity AS INTEGER) AS v,
      |    COUNT(*) AS c
      |  FROM lineitem l
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey
      |  GROUP BY 1, 2),
      |support AS (
      |  SELECT v, COALESCE(lead(v) OVER (ORDER BY v) - v, 0) AS dv
      |  FROM (SELECT DISTINCT v FROM census)),
      |grid AS (
      |  SELECT nn.nation, sv.v, COALESCE(c.c, 0) AS c
      |  FROM (SELECT DISTINCT nation FROM census) nn
      |  CROSS JOIN (SELECT DISTINCT v FROM census) sv
      |  LEFT JOIN census c ON c.nation = nn.nation AND c.v = sv.v),
      |g AS (
      |  SELECT nation, v,
      |    SUM(c) OVER (PARTITION BY nation ORDER BY v) AS cum,
      |    SUM(c) OVER (PARTITION BY nation) AS n
      |  FROM grid),
      |terms AS (
      |  SELECT a.nation AS nation_a, b.nation AS nation_b,
      |    CAST(round(abs(CAST(a.cum AS DOUBLE) / CAST(a.n AS DOUBLE)
      |        - CAST(b.cum AS DOUBLE) / CAST(b.n AS DOUBLE))
      |      * CAST(s.dv AS DOUBLE), 9) AS DECIMAL(12,9)) AS t,
      |    CAST(round(abs(CAST(a.cum AS DOUBLE) / CAST(a.n AS DOUBLE)
      |        - CAST(b.cum AS DOUBLE) / CAST(b.n AS DOUBLE)), 9)
      |      AS DECIMAL(12,9)) AS g
      |  FROM g a
      |  JOIN g b ON a.v = b.v AND a.nation < b.nation
      |  JOIN support s ON s.v = a.v)
      |SELECT nation_a, nation_b, CAST(SUM(t) AS DOUBLE) AS w1_qty,
      |  CAST(MAX(g) AS DOUBLE) AS ks_qty
      |FROM terms GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q353_wasserstein_matrix", q353WassersteinMatrix _, q353Sql),
    Query("q338_benford_2digit", q338Benford2Digit _, q338Sql),
    Query("q328_feature_ig", q328FeatureIg _, q328Sql),
    Query("q285_circadian_js", q285CircadianJs _, q285Sql),
    Query("q284_cents_heaping", q284CentsHeaping _, q284Sql),
    Query("q259_entropy_rate", q259EntropyRate _, q259Sql),
    Query("q257_source_js_matrix", q257SourceJsMatrix _, q257Sql),
    Query("q239_residual_cells", q239ResidualCells _, q239Sql),
    Query("q219_feature_gain", q219FeatureGain _, q219Sql),
    Query("q137_mutual_info", q137MutualInfo _, q137Sql),
    Query("q138_benford_audit", q138BenfordAudit _, q138Sql),
    Query("q140_source_lang_kl", q140SourceLangKl _, q140Sql),
    Query("q179_chi2_independence", q179Chi2Independence _, q179Sql),
    Query("q187_psi_drift", q187PsiDrift _, q187Sql))
}
