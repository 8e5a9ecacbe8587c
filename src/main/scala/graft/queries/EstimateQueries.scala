package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.ExactMath.r6
import graft.functions.TextFunctions.md5Hash60Sql

/** Sampling-based estimators for dedup/curation PLANNING: before paying
  * for a full 100 TB dedup pass, estimate what it will save from a
  * consistent hash-sample of the key space, and certify the estimator
  * against the exact answer at fixture scale.
  */
object EstimateQueries {

  // --------------------------------------------------------------- q204
  /** Sampled dedup-rate estimation over the lineitem (partkey, suppkey)
    * key space, certified against the exact rate. The sample is a
    * CONSISTENT 51/256 hash-sample of KEYS (first two hex digits of
    * md5(partkey_suppkey_dr) below '33'), not of rows — sampling rows
    * would bias the dup rate down (a group's duplicates must enter the
    * sample together or not at all); sampling the key space keeps every
    * sampled group intact, so distinct_s/rows_s estimates distinct/rows
    * as a standard ratio estimator.
    *
    * Exactness: all six counts are exact BIGINTs; the two rates and the
    * estimator error are single double expressions over them, spelled
    * identically in both engines, rounded at 6 dp with the −0.0 guard.
    *
    * Scale shape: the production branch is the SAMPLED one — a filter
    * that drops ~80% of rows BEFORE the distinct shuffle, so the
    * estimator costs a fifth of the pass it predicts (any sample rate
    * works the same way: the filter is on a deterministic md5 prefix).
    * The exact branch exists to certify the estimator at fixture scale;
    * on a real corpus you run it only after the estimate justifies it.
    * Both branches are one map-side-combinable distinct each. */
  def q204SampledDupRate(spark: SparkSession, dir: String): DataFrame = {
    val keyed = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(concat_ws("_", col("l_partkey"), col("l_suppkey")).as("k"))
      .withColumn("in_sample",
        substring(md5(concat(col("k"), lit("_dr"))), 1, 2) < "33")
    keyed
      .agg(
        count(lit(1)).as("rows_all"),
        count_distinct(col("k")).as("distinct_all"),
        sum(when(col("in_sample"), lit(1L)).otherwise(lit(0L)))
          .as("rows_s"),
        count_distinct(when(col("in_sample"), col("k"))).as("distinct_s"))
      .select(
        col("rows_all"), col("distinct_all"), col("rows_s"),
        col("distinct_s"),
        (round(lit(1.0) - col("distinct_all").cast("double") /
          col("rows_all").cast("double"), 6) + lit(0.0)).as("exact_rate"),
        (round(lit(1.0) - col("distinct_s").cast("double") /
          col("rows_s").cast("double"), 6) + lit(0.0)).as("est_rate"),
        (round(abs(
          (lit(1.0) - col("distinct_all").cast("double") /
            col("rows_all").cast("double")) -
            (lit(1.0) - col("distinct_s").cast("double") /
              col("rows_s").cast("double"))), 6) + lit(0.0)).as("abs_err"))
  }

  val q204Sql: String =
    """WITH keyed AS (
      |  SELECT CAST(l_partkey AS VARCHAR) || '_' ||
      |      CAST(l_suppkey AS VARCHAR) AS k,
      |    substr(md5(CAST(l_partkey AS VARCHAR) || '_' ||
      |      CAST(l_suppkey AS VARCHAR) || '_dr'), 1, 2) < '33' AS in_sample
      |  FROM lineitem),
      |sums AS (
      |  SELECT COUNT(*) AS rows_all, COUNT(DISTINCT k) AS distinct_all,
      |    CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
      |      AS rows_s,
      |    COUNT(DISTINCT CASE WHEN in_sample THEN k END) AS distinct_s
      |  FROM keyed)
      |SELECT rows_all, distinct_all, rows_s, distinct_s,
      |  round(1.0 - CAST(distinct_all AS DOUBLE) / CAST(rows_all AS DOUBLE),
      |    6) + 0.0 AS exact_rate,
      |  round(1.0 - CAST(distinct_s AS DOUBLE) / CAST(rows_s AS DOUBLE),
      |    6) + 0.0 AS est_rate,
      |  round(abs(
      |    (1.0 - CAST(distinct_all AS DOUBLE) / CAST(rows_all AS DOUBLE)) -
      |    (1.0 - CAST(distinct_s AS DOUBLE) / CAST(rows_s AS DOUBLE))),
      |    6) + 0.0 AS abs_err
      |FROM sums""".stripMargin

  // --------------------------------------------------------------- q208
  /** Neyman allocation for stratified sampling: given a 1000-row sample
    * budget over the order-priority strata, allocate n_h ∝ N_h·σ_h —
    * the variance-minimizing design for estimating mean order value.
    * The planning table a curation pipeline computes BEFORE drawing a
    * stratified QA sample (q52/q56 draw; this query decides how much
    * to draw from where: big, volatile strata get more).
    *
    * Exactness: per-stratum N, Σx, Σx² are exact decimal sums; σ_h is
    * one double expression over them rounded at 6 dp; the weight N_h·σ_h
    * is re-rounded into DECIMAL(28,4) BEFORE the cross-stratum total so
    * the 5-term sum is exact decimal arithmetic (a double sum's order
    * dependence never enters); share and allocation are single double
    * divisions, −0.0-guarded.
    *
    * Scale shape: one map-combinable hash agg over orders → 5-row strata
    * census → 1-row broadcast total. No window anywhere. */
  def q208NeymanAlloc(spark: SparkSession, dir: String): DataFrame = {
    // exact CENTS at DECIMAL(19,0): the square promotes to int128-backed
    // decimal in BOTH engines (DuckDB multiplies DECIMAL(18) in int64 and
    // overflows on fact-scale prices; 19 digits forces the wide path)
    val x = round(col("o_totalprice") * 100).cast("decimal(19,0)")
    val s = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(x * x).as("sxx"))
      .withColumn("sigma",
        round(sqrt(
          (col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) /
            (col("n").cast("double") * col("n").cast("double"))) /
          lit(100.0), 6) + lit(0.0))
      .withColumn("wgt",
        round(col("n").cast("double") * col("sigma"), 4)
          .cast("decimal(28,4)"))
    val tot = s.agg(sum(col("wgt")).as("tot"))
    s.crossJoin(broadcast(tot))
      .select(
        col("priority"), col("n"), col("sigma"),
        (round(col("wgt").cast("double") / col("tot").cast("double"), 6) +
          lit(0.0)).as("alloc_share"),
        round(lit(1000.0) * col("wgt").cast("double") /
          col("tot").cast("double")).cast("long").as("n_alloc"))
      .orderBy("priority")
  }

  val q208Sql: String =
    """WITH s AS (
      |  SELECT o_orderpriority AS priority, COUNT(*) AS n,
      |    SUM(CAST(round(o_totalprice * 100) AS DECIMAL(19,0))) AS sx,
      |    SUM(CAST(round(o_totalprice * 100) AS DECIMAL(19,0)) *
      |        CAST(round(o_totalprice * 100) AS DECIMAL(19,0))) AS sxx
      |  FROM orders GROUP BY 1),
      |w AS (
      |  SELECT priority, n,
      |    round(sqrt(
      |      (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |       CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
      |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) / 100.0, 6) + 0.0
      |      AS sigma
      |  FROM s),
      |w2 AS (
      |  SELECT *, CAST(round(CAST(n AS DOUBLE) * sigma, 4) AS DECIMAL(28,4))
      |    AS wgt
      |  FROM w),
      |t AS (SELECT SUM(wgt) AS tot FROM w2)
      |SELECT priority, n, sigma,
      |  round(CAST(wgt AS DOUBLE) / CAST(tot AS DOUBLE), 6) + 0.0
      |    AS alloc_share,
      |  CAST(round(1000.0 * CAST(wgt AS DOUBLE) / CAST(tot AS DOUBLE))
      |    AS BIGINT) AS n_alloc
      |FROM w2, t ORDER BY priority""".stripMargin

  // --------------------------------------------------------------- q216
  /** Poisson-bootstrap confidence interval for mean order value: 32
    * deterministic bootstrap replicas, each re-weighting every order by
    * a Poisson(1) count derived from an md5 uniform (the streaming-
    * friendly bootstrap — Poisson weights need no global resample
    * index, so replicas are one map-side expression per row), then the
    * 2nd/31st order statistics of the replica means as a ~94% interval.
    * The error-bar machinery a metrics pipeline attaches to any mean
    * without distributional assumptions; q172 is the hypothesis-test
    * sibling (same md5 derandomization, permutation nulls instead of
    * resampling).
    *
    * Exactness: Poisson weights are integer CASE cuts of the md5
    * uniform at Poisson-CDF double literals (identical in both
    * engines); each replica mean is ONE double division of exact
    * integer sums (Σw·cents / Σw), rounded at 6 dp; the interval picks
    * order statistics from the sorted 32-element replica list — no
    * percentile interpolation convention to disagree on.
    *
    * Scale shape: one 32-way explode over orders (q172's ENTITY-times-
    * replicas note, here fact-times-32 — linear, map-generated, no
    * join), one map-combinable hash agg by replica, one 32-row final
    * collect_list. At a row budget, thin replicas (Poisson(m/n)
    * subsampling) cut the explode factor. */
  def q216BootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5Hash60
    val twoPow60 = 1152921504606846976.0 // 2^60, exact as a double
    // spread the x32 hash explode across cores (q329's single-split
    // note: the md5 stage otherwise runs on one task at fixture scale)
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .repartition(spark.sparkContext.defaultParallelism)
    val reps = orders
      .select(col("o_orderkey"), col("cents"),
        explode(sequence(lit(0), lit(31))).as("b"))
      .withColumn("u",
        md5Hash60(concat(lit("bs:"), col("b").cast("string"), lit(":"),
          col("o_orderkey").cast("string"))).cast("double") / lit(twoPow60))
      .withColumn("w",
        when(col("u") < 0.36787944117144233, 0)
          .when(col("u") < 0.7357588823428847, 1)
          .when(col("u") < 0.9196986029286058, 2)
          .when(col("u") < 0.9810118431238463, 3)
          .when(col("u") < 0.9963401531726563, 4)
          .otherwise(5).cast("long"))
      .groupBy(col("b"))
      .agg(sum(col("w") * col("cents")).as("swx"), sum(col("w")).as("sw"))
      .select(col("b"),
        (round(col("swx").cast("double") / col("sw").cast("double"), 6) +
          lit(0.0)).as("m"))
    val obs = orders.agg(
      count(lit(1)).as("n_orders"), sum(col("cents")).as("sc"))
    reps.agg(sort_array(collect_list(col("m"))).as("ms"))
      .crossJoin(broadcast(obs))
      .select(
        col("n_orders"),
        (col("sc").cast("double") /
          (lit(100.0) * col("n_orders").cast("double"))).as("obs_mean"),
        (element_at(col("ms"), 2) / lit(100.0)).as("boot_lo"),
        (element_at(col("ms"), 31) / lit(100.0)).as("boot_hi"),
        size(col("ms")).as("n_replicas"))
  }

  val q216Sql: String =
    s"""WITH o AS (
      |  SELECT o_orderkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |reps AS (
      |  SELECT o_orderkey, cents, unnest(range(0, 32)) AS b FROM o),
      |wts AS (
      |  SELECT b, cents,
      |    CASE WHEN u < 0.36787944117144233 THEN 0
      |         WHEN u < 0.7357588823428847 THEN 1
      |         WHEN u < 0.9196986029286058 THEN 2
      |         WHEN u < 0.9810118431238463 THEN 3
      |         WHEN u < 0.9963401531726563 THEN 4
      |         ELSE 5 END AS w
      |  FROM (SELECT b, cents,
      |          ${md5Hash60Sql(
             "'bs:' || CAST(b AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)")}
      |            / 1152921504606846976.0 AS u
      |        FROM reps)),
      |rm AS (
      |  SELECT b,
      |    round(CAST(SUM(w * cents) AS DOUBLE) / CAST(SUM(w) AS DOUBLE), 6)
      |      + 0.0 AS m
      |  FROM wts GROUP BY b),
      |l AS (SELECT list_sort(list(m)) AS ms FROM rm),
      |obs AS (
      |  SELECT COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS sc
      |  FROM o)
      |SELECT n_orders,
      |  CAST(sc AS DOUBLE) / (100.0 * CAST(n_orders AS DOUBLE)) AS obs_mean,
      |  ms[2] / 100.0 AS boot_lo,
      |  ms[31] / 100.0 AS boot_hi,
      |  CAST(len(ms) AS INTEGER) AS n_replicas
      |FROM l, obs""".stripMargin

  // --------------------------------------------------------------- q218
  /** Cross-field data-quality rule census: one pass over the
    * order-joined fact evaluating every declarative rule (temporal
    * sanity: shipped before ordered / shipped more than a year late;
    * domain: non-positive quantity or price, discount outside [0, 0.1],
    * negative tax), emitting per-rule violation counts and rates. The
    * per-RULE rollup that complements q17's row-level validate-and-clean
    * (which rows survive) and q106's FK audit (referential integrity) —
    * this is what a DQ dashboard trends day over day.
    *
    * Exactness: each rule is a boolean over exact column comparisons
    * (dates at DATE grain, money at raw parquet doubles compared to
    * constants — no arithmetic); counts are exact; rates are single
    * double divisions.
    *
    * Scale shape: ONE fact-scale hash join (lineitem ⋈ orders on the
    * order key) feeding ONE map-combinable aggregate that evaluates all
    * six rules simultaneously — adding a rule is one more sum, not one
    * more pass; the 6-row output unpivots from that single row. */
  def q218RuleViolations(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("odate"))
    val j = li
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sdate"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
    def viol(c: org.apache.spark.sql.Column) =
      sum(when(c, 1L).otherwise(0L))
    val sums = j.agg(
      count(lit(1)).as("n_checked"),
      viol(col("sdate") < col("odate")).as("v_ship_before_order"),
      viol(col("sdate") > add_months(col("odate"), 12))
        .as("v_ship_over_year"),
      viol(col("l_quantity") <= 0).as("v_nonpos_qty"),
      viol(col("l_extendedprice") <= 0).as("v_nonpos_price"),
      viol(col("l_discount") < 0 || col("l_discount") > 0.1)
        .as("v_discount_range"),
      viol(col("l_tax") < 0).as("v_neg_tax"))
    sums.select(col("n_checked"), expr(
      """stack(6,
        |  'ship_before_order', v_ship_before_order,
        |  'ship_over_year', v_ship_over_year,
        |  'nonpos_qty', v_nonpos_qty,
        |  'nonpos_price', v_nonpos_price,
        |  'discount_range', v_discount_range,
        |  'neg_tax', v_neg_tax) AS (rule, n_violations)""".stripMargin))
      .select(col("rule"), col("n_violations"), col("n_checked"),
        (round(col("n_violations").cast("double") /
          col("n_checked").cast("double"), 6) + lit(0.0))
          .as("violation_rate"))
      .orderBy("rule")
  }

  val q218Sql: String =
    """WITH j AS (
      |  SELECT CAST(l_shipdate AS DATE) AS sdate,
      |    CAST(o_orderdate AS DATE) AS odate,
      |    l_quantity, l_extendedprice, l_discount, l_tax
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |s AS (
      |  SELECT COUNT(*) AS n_checked,
      |    CAST(SUM(CASE WHEN sdate < odate THEN 1 ELSE 0 END) AS BIGINT)
      |      AS v_ship_before_order,
      |    CAST(SUM(CASE WHEN sdate > odate + INTERVAL 12 MONTH
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS v_ship_over_year,
      |    CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS v_nonpos_qty,
      |    CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS v_nonpos_price,
      |    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS v_discount_range,
      |    CAST(SUM(CASE WHEN l_tax < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS v_neg_tax
      |  FROM j),
      |u AS (
      |  SELECT 'ship_before_order' AS rule, v_ship_before_order
      |    AS n_violations, n_checked FROM s
      |  UNION ALL SELECT 'ship_over_year', v_ship_over_year, n_checked
      |    FROM s
      |  UNION ALL SELECT 'nonpos_qty', v_nonpos_qty, n_checked FROM s
      |  UNION ALL SELECT 'nonpos_price', v_nonpos_price, n_checked FROM s
      |  UNION ALL SELECT 'discount_range', v_discount_range, n_checked
      |    FROM s
      |  UNION ALL SELECT 'neg_tax', v_neg_tax, n_checked FROM s)
      |SELECT rule, n_violations, n_checked,
      |  round(CAST(n_violations AS DOUBLE) / CAST(n_checked AS DOUBLE), 6)
      |    + 0.0 AS violation_rate
      |FROM u ORDER BY rule""".stripMargin

  // --------------------------------------------------------------- q299
  /** Bloom-filter false-positive-rate certification: build a HAND-ROLLED
    * m=8192-bit, k=3 bloom (positions = md5-60bit of key‖'#j' mod m —
    * the shared replayable hash grid, NOT Spark's opaque
    * BloomFilterAggregate) over the odd-custkey customer names, probe it
    * with the DISJOINT even-custkey names, and compare the measured FP
    * rate against the occupancy prediction p³ (p = bits-set/m, the
    * probability all three probe positions land on set bits). The
    * estimator-certification companion to q233's Count-Min overestimate
    * cert, and the measured-math backing for the q116 BloomPrune
    * production path (which stays on Spark's native bloom + exact
    * verify; this query certifies the FPR THEORY that sizing decisions
    * rely on). m is a fixture-scale literal — production sizes m ∝ n,
    * and the cert's point is exact replay, not capacity.
    *
    * Exactness: every hash/position/count is integer; fp_rate and
    * load_factor are single divisions; expected_fp_rate is the explicit
    * product load·load·load (no cross-engine pow). Membership = all 3
    * exploded positions match (duplicate positions within a probe count
    * per-slot, identically in both engines).
    *
    * Scale shape: the position set broadcasts (≤ 3·|members| ints);
    * probes explode ×3, broadcast-join, and reduce map-side — the same
    * zero-shuffle probe shape the production bloom path has. */
  def q299BloomFprCert(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Column
    import graft.functions.TextFunctions.md5Hash60
    val M = 8192L
    def positions(key: Column): Column = array((1 to 3).map(j =>
      pmod(md5Hash60(concat(key, lit(s"#$j"))), lit(M))): _*)
    val cust = Kpis.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"))
    val memberNames = cust.filter(pmod(col("c_custkey"), lit(2L)) === 1L)
    val probeNames = cust.filter(pmod(col("c_custkey"), lit(2L)) === 0L)
    val bits = memberNames
      .select(explode(positions(col("c_name"))).as("pos")).distinct()
    val fp = probeNames
      .select(col("c_custkey"), explode(positions(col("c_name"))).as("pos"))
      .join(broadcast(bits), "pos")
      .groupBy(col("c_custkey")).agg(count(lit(1)).as("hits"))
      .filter(col("hits") === 3L)
      .agg(count(lit(1)).as("fp_count"))
    val counts = memberNames.agg(count(lit(1)).as("n_member"))
      .crossJoin(broadcast(probeNames.agg(count(lit(1)).as("n_probe"))))
      .crossJoin(broadcast(bits.agg(count(lit(1)).as("bits_set"))))
      .crossJoin(broadcast(fp))
    val load = col("bits_set").cast("double") / lit(M.toDouble)
    counts.select(col("n_member"), col("n_probe"),
      lit(M).as("m_bits"), lit(3L).as("k_hashes"),
      col("bits_set"), col("fp_count"),
      (col("fp_count").cast("double") / col("n_probe").cast("double"))
        .as("fp_rate"),
      load.as("load_factor"),
      (load * load * load).as("expected_fp_rate"))
  }

  val q299Sql: String = {
    def pos(j: Int) =
      s"(${md5Hash60Sql(s"c_name || '#$j'")}) % 8192"
    s"""WITH memb AS (
      |  SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 1),
      |prob AS (
      |  SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 0),
      |bits AS (
      |  SELECT DISTINCT pos FROM (
      |    SELECT ${pos(1)} AS pos FROM memb
      |    UNION ALL SELECT ${pos(2)} FROM memb
      |    UNION ALL SELECT ${pos(3)} FROM memb)),
      |ppos AS (
      |  SELECT c_custkey, ${pos(1)} AS pos FROM prob
      |  UNION ALL SELECT c_custkey, ${pos(2)} FROM prob
      |  UNION ALL SELECT c_custkey, ${pos(3)} FROM prob),
      |fp AS (
      |  SELECT COUNT(*) AS fp_count FROM (
      |    SELECT p.c_custkey FROM ppos p JOIN bits USING (pos)
      |    GROUP BY p.c_custkey HAVING COUNT(*) = 3)),
      |c AS (
      |  SELECT (SELECT COUNT(*) FROM memb) AS n_member,
      |    (SELECT COUNT(*) FROM prob) AS n_probe,
      |    (SELECT COUNT(*) FROM bits) AS bits_set,
      |    (SELECT fp_count FROM fp) AS fp_count)
      |SELECT n_member, n_probe, CAST(8192 AS BIGINT) AS m_bits,
      |  CAST(3 AS BIGINT) AS k_hashes, bits_set,
      |  CAST(fp_count AS BIGINT) AS fp_count,
      |  CAST(fp_count AS DOUBLE) / CAST(n_probe AS DOUBLE) AS fp_rate,
      |  CAST(bits_set AS DOUBLE) / 8192.0 AS load_factor,
      |  (CAST(bits_set AS DOUBLE) / 8192.0)
      |    * (CAST(bits_set AS DOUBLE) / 8192.0)
      |    * (CAST(bits_set AS DOUBLE) / 8192.0) AS expected_fp_rate
      |FROM c""".stripMargin
  }

  // --------------------------------------------------------------- q329
  /** Poisson-bootstrap confidence interval for the MEDIAN line
    * quantity: q216 put an error bar on a mean (a one-division
    * statistic); medians have no closed-form variance, which is exactly
    * when the bootstrap earns its keep. 32 deterministic Poisson(1)
    * replicas (q216's md5 derandomization, fresh salt), each reduced to
    * a WEIGHTED median — and because quantity lives on a 50-value
    * domain, every replica's median comes from a (replica, value)
    * census cumulative-weight scan, never a per-replica sort: the
    * lower weighted median is the smallest v whose cumulative weight
    * reaches ⌈(W+1)/2⌉, the same type-1 rule as the observed median.
    *
    * Exactness: weights are integer CASE cuts at Poisson-CDF double
    * literals; cumulative weights and targets are exact integers;
    * medians are exact DECIMAL(18,2) domain values — the interval
    * endpoints are order statistics of 32 exact values, nothing to
    * round.
    *
    * Scale shape: one fact×32 map-generated explode (linear, no join)
    * into a map-combinable (replica, value) census agg — 32×50 cells;
    * the cumulative windows are PARTITIONED by replica over that
    * census. */
  def q329MedianBootstrap(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5Hash60
    import org.apache.spark.sql.expressions.Window
    val twoPow60 = 1152921504606846976.0
    // spread the x32 hash explode across cores: the fixture arrives as
    // ONE parquet split, and without this the 19M-row md5 stage runs on
    // a single task (at cluster scale the scan arrives pre-split and
    // the exchange is a no-op cost-wise)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("decimal(18,2)").as("v"))
      .repartition(spark.sparkContext.defaultParallelism)
    val cells = li
      .select(col("v"), explode(sequence(lit(0), lit(31))).as("b"),
        md5Hash60(concat(lit("mb:"), col("b").cast("string"), lit(":"),
          col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string"))).cast("double")
          ./(lit(twoPow60)).as("u"))
      .withColumn("w",
        when(col("u") < 0.36787944117144233, 0)
          .when(col("u") < 0.7357588823428847, 1)
          .when(col("u") < 0.9196986029286058, 2)
          .when(col("u") < 0.9810118431238463, 3)
          .when(col("u") < 0.9963401531726563, 4)
          .otherwise(5).cast("long"))
      .groupBy(col("b"), col("v")).agg(sum(col("w")).as("cw"))
    val cum = Window.partitionBy(col("b")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("b"))
    val medians = cells
      .withColumn("cumw", sum(col("cw")).over(cum))
      .withColumn("tw", sum(col("cw")).over(tot))
      .withColumn("target", expr("(tw + 1L) div 2"))
      .filter(col("cumw") >= col("target"))
      .groupBy(col("b")).agg(min(col("v")).as("med"))
    val obsCensus = li.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val obsMedian = obsCensus
      .withColumn("cumc", sum(col("c")).over(
        Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tw", sum(col("c")).over(Window.partitionBy()))
      .withColumn("target", expr("(tw + 1L) div 2"))
      .filter(col("cumc") >= col("target"))
      .agg(min(col("v")).as("obs_median"))
    val n = li.agg(count(lit(1)).as("n_lines"))
    medians.agg(sort_array(collect_list(col("med"))).as("ms"))
      .crossJoin(broadcast(obsMedian))
      .crossJoin(broadcast(n))
      .select(col("n_lines"),
        col("obs_median").cast("double").as("obs_median"),
        element_at(col("ms"), 2).cast("double").as("boot_lo"),
        element_at(col("ms"), 31).cast("double").as("boot_hi"),
        size(col("ms")).as("n_replicas"))
  }

  val q329Sql: String =
    s"""WITH li AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(l_quantity AS DECIMAL(18,2)) AS v
      |  FROM lineitem),
      |reps AS (
      |  SELECT v, unnest(range(0, 32)) AS b, l_orderkey, l_linenumber
      |  FROM li),
      |wts AS (
      |  SELECT b, v,
      |    CASE WHEN u < 0.36787944117144233 THEN 0
      |         WHEN u < 0.7357588823428847 THEN 1
      |         WHEN u < 0.9196986029286058 THEN 2
      |         WHEN u < 0.9810118431238463 THEN 3
      |         WHEN u < 0.9963401531726563 THEN 4
      |         ELSE 5 END AS w
      |  FROM (SELECT b, v,
      |          ${graft.functions.TextFunctions.md5Hash60Sql(
               "'mb:' || CAST(b AS VARCHAR) || ':' || " +
               "CAST(l_orderkey AS VARCHAR) || ':' || " +
               "CAST(l_linenumber AS VARCHAR)")}
      |            / 1152921504606846976.0 AS u
      |        FROM reps)),
      |cells AS (
      |  SELECT b, v, CAST(SUM(w) AS BIGINT) AS cw
      |  FROM wts GROUP BY 1, 2),
      |c2 AS (
      |  SELECT b, v, cw,
      |    CAST(SUM(cw) OVER (PARTITION BY b ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cumw,
      |    (CAST(SUM(cw) OVER (PARTITION BY b) AS BIGINT) + 1) // 2
      |      AS target
      |  FROM cells),
      |meds AS (
      |  SELECT b, MIN(v) AS med FROM c2 WHERE cumw >= target GROUP BY 1),
      |l AS (SELECT list_sort(list(med)) AS ms FROM meds),
      |oc AS (SELECT v, COUNT(*) AS c FROM li GROUP BY 1),
      |oc2 AS (
      |  SELECT v,
      |    CAST(SUM(c) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cumc,
      |    (CAST(SUM(c) OVER () AS BIGINT) + 1) // 2 AS target
      |  FROM oc),
      |om AS (SELECT MIN(v) AS obs_median FROM oc2 WHERE cumc >= target),
      |n AS (SELECT COUNT(*) AS n_lines FROM li)
      |SELECT n_lines,
      |  CAST(obs_median AS DOUBLE) AS obs_median,
      |  CAST(ms[2] AS DOUBLE) AS boot_lo,
      |  CAST(ms[31] AS DOUBLE) AS boot_hi,
      |  CAST(len(ms) AS INTEGER) AS n_replicas
      |FROM l, om, n""".stripMargin

  // --------------------------------------------------------------- q349
  /** HyperLogLog distinct-count certificate over the corpus vocabulary
    * (m = 64 registers, p = 6): build the registers with exact integer
    * arithmetic and certify the harmonic-mean estimate against the
    * exact distinct-token count — the sketch a 100 TB pipeline uses for
    * vocabulary/cardinality planning where exact countDistinct would
    * shuffle every token (q41's sketch-profile family; this query is
    * the error CERT, q233's Count-Min discipline applied to HLL).
    * Emits the full 64-register census plus the summary columns.
    *
    * Exactness: the 60-bit md5 hash splits into bucket (low 6 bits)
    * and a 54-bit suffix whose leading-zero rank is derived by JOINING
    * against a 55-row power-of-two table — no cross-engine log2 ever
    * runs; ranks cap at 30 so each harmonic term 2^(30−M) is an exact
    * integer (the Σ2^−M sum scaled by 2^30 — scaling cancels in the
    * estimate), keeping the whole register pipeline in BIGINT space
    * below 2⁵³; the estimate α·m²·2^30/Σ is literal·literal/integer —
    * three IEEE ops over identical operands; rel-error snaps at 6 dp.
    * The standard small-range correction applies in both engines: when
    * E ≤ 2.5m and zero registers exist, E* = m·ln(m/V) (linear
    * counting) replaces the biased raw harmonic mean.
    *
    * Scale shape: ONE map-side hash pass over the exploded token
    * stream, a 64-group max aggregate (map-combinable — the register
    * array is the whole reduce state, the reason HLL merges across
    * 1000 executors for free); the exact count runs beside it for the
    * cert only. The power-table and bucket-grid joins are broadcast. */
  def q349HllCert(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5Hash60
    val terms = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .distinct()
    val hashed = terms
      .withColumn("h", md5Hash60(col("term")))
      .withColumn("bucket", col("h").bitwiseAND(lit(63L)))
      .withColumn("w", shiftright(col("h"), 6))
    val kTbl = spark.range(55).select(col("id").cast("int").as("k"))
      .withColumn("lo", pow(lit(2.0), col("k")).cast("long"))
      .withColumn("hi", pow(lit(2.0), col("k") + 1).cast("long"))
    val ranked = hashed.join(broadcast(kTbl),
        col("w") >= col("lo") && col("w") < col("hi"), "left")
      .withColumn("rank",
        least(lit(55) - coalesce(col("k") + lit(1), lit(0)), lit(30)))
    val buckets = spark.range(64).select(col("id").cast("long").as("bucket"))
    val regs = buckets.join(
        ranked.groupBy(col("bucket")).agg(max(col("rank")).as("mr")),
        Seq("bucket"), "left")
      .withColumn("register", coalesce(col("mr"), lit(0)))
      .select(col("bucket"), col("register").cast("long").as("register"))
    val summary = regs.agg(
      sum(pow(lit(2.0), lit(30) - col("register")).cast("long"))
        .as("sum_scaled"),
      sum(when(col("register") === 0L, 1L).otherwise(0L))
        .as("n_zero_registers"))
    val exact = terms.agg(count(lit(1)).as("n_exact"))
    // alpha_64 * m^2 = 0.709 * 4096 = 2904.064; the 2^30 term-scaling
    // cancels: E = 2904.064 * 2^30 / sum_scaled
    val rawEst = lit(2904.064) * lit(1073741824.0) /
      col("sum_scaled").cast("double")
    // small-range (linear-counting) correction (ADVICE r13): when the
    // raw estimate is <= 2.5m = 160 and empty registers exist, the raw
    // harmonic mean is known-biased — switch to E* = m·ln(m/V). ln runs
    // over only 63 possible integer ratios in BOTH engines (IEEE libm,
    // snapped at 6 dp), so the no-cross-engine-transcendental discipline
    // holds in practice; on the corpus vocabulary the branch never fires
    val est = when(rawEst <= lit(160.0) && col("n_zero_registers") > 0L,
        lit(64.0) * log(lit(64.0) / col("n_zero_registers").cast("double")))
      .otherwise(rawEst)
    regs.crossJoin(broadcast(summary)).crossJoin(broadcast(exact))
      .select(col("bucket"), col("register"), col("n_exact"),
        col("n_zero_registers"), col("sum_scaled"),
        (round(est, 6) + lit(0.0)).as("hll_estimate"),
        (round((est - col("n_exact").cast("double")) /
          col("n_exact").cast("double"), 6) + lit(0.0)).as("rel_error"))
      .orderBy("bucket")
  }

  val q349Sql: String = {
    val h = md5Hash60Sql("term")
    s"""WITH tok AS (
      |  SELECT DISTINCT term FROM (
      |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      |  WHERE length(term) > 0),
      |hashed AS (
      |  SELECT ($h & 63) AS bucket, ($h >> 6) AS w FROM tok),
      |kt AS (
      |  SELECT CAST(range AS INTEGER) AS k,
      |    CAST(POWER(2, range) AS BIGINT) AS lo,
      |    CAST(POWER(2, range + 1) AS BIGINT) AS hi
      |  FROM range(55)),
      |ranked AS (
      |  SELECT bucket,
      |    LEAST(55 - COALESCE(k + 1, 0), 30) AS rnk
      |  FROM hashed LEFT JOIN kt ON w >= lo AND w < hi),
      |regs AS (
      |  SELECT CAST(g.range AS BIGINT) AS bucket,
      |    CAST(COALESCE(MAX(r.rnk), 0) AS BIGINT) AS register
      |  FROM range(64) g LEFT JOIN ranked r ON r.bucket = g.range
      |  GROUP BY 1),
      |summary AS (
      |  SELECT
      |    CAST(SUM(CAST(POWER(2, 30 - register) AS BIGINT)) AS BIGINT)
      |      AS sum_scaled,
      |    CAST(SUM(CASE WHEN register = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_zero_registers
      |  FROM regs),
      |exact AS (SELECT COUNT(*) AS n_exact FROM tok),
      |est AS (
      |  SELECT CASE WHEN raw <= 160.0 AND n_zero_registers > 0
      |      THEN 64.0 * LN(64.0 / CAST(n_zero_registers AS DOUBLE))
      |      ELSE raw END AS e
      |  FROM (SELECT 2904.064 * 1073741824.0 / CAST(sum_scaled AS DOUBLE)
      |      AS raw, n_zero_registers FROM summary))
      |SELECT bucket, register, n_exact, n_zero_registers, sum_scaled,
      |  ROUND(e, 6) + 0.0 AS hll_estimate,
      |  ROUND((e - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 6)
      |    + 0.0 AS rel_error
      |FROM regs, summary, exact, est ORDER BY bucket""".stripMargin
  }

  // --------------------------------------------------------------- q356
  /** HLL MERGEABILITY certificate — the property that makes q349's
    * sketch a distributed object at all: per-source register sets
    * max-merged must equal the registers built directly over the union
    * stream (max is associative/commutative/idempotent, so sketches
    * combine across 1000 executors or 20 ingest sources with zero
    * error — unlike an average or a sample). This query replays that
    * algebra relationally: one row per source with its own register
    * summary, estimate, and exact distinct-vocabulary cert, plus a
    * final `union` row whose registers come from the per-source
    * MAX-merge and whose `registers_agree` column counts bucket-level
    * agreement with the direct global build (64 = perfect).
    *
    * Exactness: q349's machinery verbatim — md5-60-bit hash, power-
    * table rank join, capped ranks, BIGINT scaled harmonic sums, the
    * same linear-counting branch (which MAY fire for small per-source
    * vocabularies, deterministically in both engines).
    *
    * Scale shape: ONE map-side hash pass over the (source, term)
    * distinct stream; everything after is (source × 64)-grid censuses
    * and 64-row merges. The per-source exact counts ride the same
    * distinct shuffle. This is the cert for sharded ingest: registers
    * written per shard/day can be OR-merged later without rereading. */
  def q356HllMergeCert(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5Hash60
    val st = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kTbl = spark.range(55).select(col("id").cast("int").as("k"))
      .withColumn("lo", pow(lit(2.0), col("k")).cast("long"))
      .withColumn("hi", pow(lit(2.0), col("k") + 1).cast("long"))
    val ranked = st
      .withColumn("h", md5Hash60(col("term")))
      .withColumn("bucket", col("h").bitwiseAND(lit(63L)))
      .withColumn("w", shiftright(col("h"), 6))
      .join(broadcast(kTbl),
        col("w") >= col("lo") && col("w") < col("hi"), "left")
      .withColumn("rank",
        least(lit(55) - coalesce(col("k") + lit(1), lit(0)), lit(30)))
    val buckets = spark.range(64).select(col("id").cast("long").as("bucket"))
    val srcRegs = st.select(col("source")).distinct()
      .crossJoin(broadcast(buckets))
      .join(ranked.groupBy(col("source"), col("bucket"))
        .agg(max(col("rank")).as("mr")), Seq("source", "bucket"), "left")
      .select(col("source"), col("bucket"),
        coalesce(col("mr"), lit(0)).cast("long").as("register"))
    val merged = srcRegs.groupBy(col("bucket"))
      .agg(max(col("register")).as("mreg"))
    val direct = buckets.join(
        ranked.groupBy(col("bucket")).agg(max(col("rank")).as("gr")),
        Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("gr"), lit(0)).cast("long")
        .as("greg"))
    val agree = merged.join(direct, "bucket")
      .agg(sum((col("mreg") === col("greg")).cast("long"))
        .as("registers_agree"))
    def summarize(regs: DataFrame, reg: String, keys: Seq[String]) = {
      val g = if (keys.isEmpty) regs.groupBy() else regs.groupBy(keys.head)
      g.agg(
        sum(pow(lit(2.0), lit(30) - col(reg)).cast("long")).as("sum_scaled"),
        sum(when(col(reg) === 0L, 1L).otherwise(0L)).as("n_zero_registers"))
    }
    def estOf(sumScaled: org.apache.spark.sql.Column,
        nZero: org.apache.spark.sql.Column) = {
      val raw = lit(2904.064) * lit(1073741824.0) / sumScaled.cast("double")
      when(raw <= lit(160.0) && nZero > 0L,
        lit(64.0) * log(lit(64.0) / nZero.cast("double"))).otherwise(raw)
    }
    val perSrc = summarize(srcRegs, "register", Seq("source"))
      .join(st.groupBy(col("source")).agg(count(lit(1)).as("n_exact")),
        "source")
      .select(col("source").as("scope"), col("n_exact"),
        col("n_zero_registers"), col("sum_scaled"),
        lit(null).cast("long").as("registers_agree"))
    val unionRow = summarize(merged, "mreg", Seq.empty)
      .crossJoin(broadcast(st.select(col("term")).distinct()
        .agg(count(lit(1)).as("n_exact"))))
      .crossJoin(broadcast(agree))
      .select(lit("union").as("scope"), col("n_exact"),
        col("n_zero_registers"), col("sum_scaled"), col("registers_agree"))
    val e = estOf(col("sum_scaled"), col("n_zero_registers"))
    val out = graft.plans.Eager.ckpt(perSrc.unionAll(unionRow)
      .select(col("scope"), col("n_exact"), col("n_zero_registers"),
        col("sum_scaled"),
        (round(e, 6) + lit(0.0)).as("hll_estimate"),
        (round((e - col("n_exact").cast("double")) /
          col("n_exact").cast("double"), 6) + lit(0.0)).as("rel_error"),
        col("registers_agree"))
      .orderBy("scope"))
    st.unpersist()
    out
  }

  val q356Sql: String = {
    val h = md5Hash60Sql("term")
    s"""WITH stok AS (
      |  SELECT DISTINCT source, term FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS term
      |    FROM documents)
      |  WHERE length(term) > 0),
      |kt AS (
      |  SELECT CAST(range AS INTEGER) AS k,
      |    CAST(POWER(2, range) AS BIGINT) AS lo,
      |    CAST(POWER(2, range + 1) AS BIGINT) AS hi
      |  FROM range(55)),
      |ranked AS (
      |  SELECT source, ($h & 63) AS bucket,
      |    LEAST(55 - COALESCE(k + 1, 0), 30) AS rnk
      |  FROM stok LEFT JOIN kt ON ($h >> 6) >= lo AND ($h >> 6) < hi),
      |srcregs AS MATERIALIZED (
      |  SELECT s.source, CAST(g.range AS BIGINT) AS bucket,
      |    CAST(COALESCE(MAX(r.rnk), 0) AS BIGINT) AS register
      |  FROM (SELECT DISTINCT source FROM stok) s
      |  CROSS JOIN range(64) g
      |  LEFT JOIN ranked r ON r.source = s.source AND r.bucket = g.range
      |  GROUP BY 1, 2),
      |merged AS MATERIALIZED (
      |  SELECT bucket, MAX(register) AS mreg FROM srcregs GROUP BY 1),
      |direct AS (
      |  SELECT CAST(g.range AS BIGINT) AS bucket,
      |    CAST(COALESCE(MAX(r.rnk), 0) AS BIGINT) AS greg
      |  FROM range(64) g LEFT JOIN ranked r ON r.bucket = g.range
      |  GROUP BY 1),
      |agree AS (
      |  SELECT CAST(SUM(CASE WHEN m.mreg = d.greg THEN 1 ELSE 0 END)
      |    AS BIGINT) AS registers_agree
      |  FROM merged m JOIN direct d ON m.bucket = d.bucket),
      |persrc AS (
      |  SELECT sr.source AS scope,
      |    CAST(SUM(CAST(POWER(2, 30 - register) AS BIGINT)) AS BIGINT)
      |      AS sum_scaled,
      |    CAST(SUM(CASE WHEN register = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_zero_registers
      |  FROM srcregs sr GROUP BY 1),
      |srcexact AS (
      |  SELECT source AS scope, COUNT(*) AS n_exact
      |  FROM stok GROUP BY 1),
      |uexact AS (
      |  SELECT COUNT(DISTINCT term) AS n_exact FROM stok),
      |usum AS (
      |  SELECT
      |    CAST(SUM(CAST(POWER(2, 30 - mreg) AS BIGINT)) AS BIGINT)
      |      AS sum_scaled,
      |    CAST(SUM(CASE WHEN mreg = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_zero_registers
      |  FROM merged),
      |rows0 AS (
      |  SELECT p.scope, e.n_exact, p.n_zero_registers, p.sum_scaled,
      |    NULL::BIGINT AS registers_agree
      |  FROM persrc p JOIN srcexact e ON p.scope = e.scope
      |  UNION ALL
      |  SELECT 'union', uexact.n_exact, usum.n_zero_registers,
      |    usum.sum_scaled, agree.registers_agree
      |  FROM usum, uexact, agree),
      |est AS (
      |  SELECT *, CASE WHEN raw <= 160.0 AND n_zero_registers > 0
      |      THEN 64.0 * LN(64.0 / CAST(n_zero_registers AS DOUBLE))
      |      ELSE raw END AS e
      |  FROM (SELECT *,
      |      2904.064 * 1073741824.0 / CAST(sum_scaled AS DOUBLE) AS raw
      |    FROM rows0))
      |SELECT scope, n_exact, n_zero_registers, sum_scaled,
      |  ROUND(e, 6) + 0.0 AS hll_estimate,
      |  ROUND((e - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 6)
      |    + 0.0 AS rel_error,
      |  registers_agree
      |FROM est ORDER BY scope""".stripMargin
  }

  // --------------------------------------------------------------- q357
  /** KMV/theta-sketch set-operation certificate — the estimate family
    * HLL (q349/q356) cannot provide: a k-minimum-values sketch is a
    * uniform SAMPLE of the hashed key space below its threshold θ, so
    * two sketches support INTERSECTION and union estimates, not just
    * cardinality. Domain: distinct (part, supplier) supply
    * relationships active in 1995 (side A) vs 1996 (side B) — the
    * sketch answers "how many relationships survived the year" without
    * a distinct-pair join, certified against the exact counts.
    *
    * Mechanics (k = 256): per side keep the k smallest md5-60-bit
    * hashes via the native bounded TopK aggregate (k-min = k-max of
    * the negated hash — map-side partial, never a window sort);
    * θ_side = k-th minimum (or the full 2⁶⁰ range when a side holds
    * fewer than k keys — the sketch then IS the set and estimates turn
    * exact); est = (k−1)·2⁶⁰/θ. Intersection: the sample values
    * present in BOTH sketches below θ = min(θ_A, θ_B), scaled by
    * 2⁶⁰/θ. Union: the k smallest of the merged samples, same rule.
    * Jaccard comes out as est_int/est_union beside its exact twin.
    *
    * Exactness: hashes/counts/thresholds are exact BIGINTs; each
    * estimate is one literal·literal/integer IEEE chain snapped at
    * 6 dp (q349's discipline); array order is ascending-hash in both
    * engines.
    *
    * Scale shape: one distinct shuffle per side over (part, supp)
    * pairs, then the bounded aggregate collapses each side to ≤ k
    * longs map-combinably; every set operation runs on two ≤ 256-
    * element arrays in a single census row. The exact counts ride the
    * same distinct passes (cert-only, as q349). */
  def q357ThetaSketchCert(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5Hash60
    val KK = 256
    val full = lit(1152921504606846976L) // 2^60: θ when the side is small
    val li = Kpis.table(spark, dir, "lineitem")
      .select(year(col("l_shipdate")).as("yr"), col("l_partkey"),
        col("l_suppkey"))
      .filter(col("yr").isin(1995, 1996))
      .select((col("yr") - 1995).as("side"),
        md5Hash60(concat(col("l_partkey").cast("string"), lit("|"),
          col("l_suppkey").cast("string"))).as("h"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def sideRow(s: Int, arr: String, n: String) =
      li.filter(col("side") === s).groupBy()
        .agg(transform(
          graft.operators.TopK.topKLongPairs(-col("h"), col("h"), KK),
          p => p.getField("id")).as(arr),
          count(lit(1)).as(n))
    val inter = li.groupBy(col("h"))
      .agg(count(lit(1)).as("sides"))
      .filter(col("sides") === 2)
      .agg(count(lit(1)).as("n_exact_int"))
    def theta(arr: org.apache.spark.sql.Column) =
      when(size(arr) < KK, full).otherwise(element_at(arr, KK))
    def estOf(arr: org.apache.spark.sql.Column,
        th: org.apache.spark.sql.Column) =
      when(size(arr) < KK, size(arr).cast("double"))
        .otherwise(lit((KK - 1).toDouble) * lit(1.152921504606846976e18) /
          th.cast("double"))
    val thA = theta(col("ka")); val thB = theta(col("kb"))
    val thI = least(thA, thB)
    val uArr = slice(array_sort(array_distinct(
      concat(col("ka"), col("kb")))), 1, KK)
    val mInt = size(filter(array_intersect(col("ka"), col("kb")),
      x => x < thI))
    val estInt = mInt.cast("double") * lit(1.152921504606846976e18) /
      thI.cast("double")
    val estU = estOf(uArr, theta(uArr))
    val out = graft.plans.Eager.ckpt(
      sideRow(0, "ka", "n_exact_a").crossJoin(sideRow(1, "kb", "n_exact_b"))
        .crossJoin(inter)
        .select(lit(KK).as("k"),
          col("n_exact_a"), col("n_exact_b"), col("n_exact_int"),
          (round(estOf(col("ka"), thA), 6) + lit(0.0)).as("est_a"),
          (round(estOf(col("kb"), thB), 6) + lit(0.0)).as("est_b"),
          (round(estInt, 6) + lit(0.0)).as("est_int"),
          (round(estU, 6) + lit(0.0)).as("est_union"),
          (round((estInt - col("n_exact_int").cast("double")) /
            col("n_exact_int").cast("double"), 6) + lit(0.0))
            .as("rel_err_int"),
          (round(col("n_exact_int").cast("double") /
            (col("n_exact_a") + col("n_exact_b") - col("n_exact_int"))
              .cast("double"), 6) + lit(0.0)).as("jaccard_exact"),
          (round(estInt / estU, 6) + lit(0.0)).as("jaccard_est")))
    li.unpersist()
    out
  }

  val q357Sql: String = {
    val h = md5Hash60Sql(
      "CAST(l_partkey AS VARCHAR) || '|' || CAST(l_suppkey AS VARCHAR)")
    s"""WITH pairs AS (
      |  SELECT DISTINCT date_part('year', l_shipdate) - 1995 AS side,
      |    $h AS h
      |  FROM lineitem
      |  WHERE date_part('year', l_shipdate) IN (1995, 1996)),
      |ka AS (
      |  SELECT list(h ORDER BY h) AS ka,
      |    (SELECT COUNT(*) FROM pairs WHERE side = 0) AS n_exact_a
      |  FROM (SELECT h FROM pairs WHERE side = 0 ORDER BY h LIMIT 256)),
      |kb AS (
      |  SELECT list(h ORDER BY h) AS kb,
      |    (SELECT COUNT(*) FROM pairs WHERE side = 1) AS n_exact_b
      |  FROM (SELECT h FROM pairs WHERE side = 1 ORDER BY h LIMIT 256)),
      |ni AS (
      |  SELECT COUNT(*) AS n_exact_int FROM (
      |    SELECT h FROM pairs GROUP BY h HAVING COUNT(*) = 2)),
      |base AS (
      |  SELECT *,
      |    CASE WHEN len(ka) < 256 THEN 1152921504606846976
      |         ELSE ka[256] END AS tha,
      |    CASE WHEN len(kb) < 256 THEN 1152921504606846976
      |         ELSE kb[256] END AS thb,
      |    list_sort(list_distinct(ka || kb))[1:256] AS ua
      |  FROM ka, kb, ni),
      |calc AS (
      |  SELECT *,
      |    LEAST(tha, thb) AS thi,
      |    CASE WHEN len(ua) < 256 THEN 1152921504606846976
      |         ELSE ua[256] END AS thu
      |  FROM base),
      |est AS (
      |  SELECT *,
      |    CASE WHEN len(ka) < 256 THEN CAST(len(ka) AS DOUBLE)
      |         ELSE 255.0 * 1.152921504606846976e18 / CAST(tha AS DOUBLE)
      |    END AS est_a,
      |    CASE WHEN len(kb) < 256 THEN CAST(len(kb) AS DOUBLE)
      |         ELSE 255.0 * 1.152921504606846976e18 / CAST(thb AS DOUBLE)
      |    END AS est_b,
      |    CAST(len(list_filter(list_intersect(ka, kb), x -> x < thi))
      |      AS DOUBLE) * 1.152921504606846976e18 / CAST(thi AS DOUBLE)
      |      AS est_int,
      |    CASE WHEN len(ua) < 256 THEN CAST(len(ua) AS DOUBLE)
      |         ELSE 255.0 * 1.152921504606846976e18 / CAST(thu AS DOUBLE)
      |    END AS est_union
      |  FROM calc)
      |SELECT 256 AS k, n_exact_a, n_exact_b, n_exact_int,
      |  ROUND(est_a, 6) + 0.0 AS est_a,
      |  ROUND(est_b, 6) + 0.0 AS est_b,
      |  ROUND(est_int, 6) + 0.0 AS est_int,
      |  ROUND(est_union, 6) + 0.0 AS est_union,
      |  ROUND((est_int - CAST(n_exact_int AS DOUBLE))
      |    / CAST(n_exact_int AS DOUBLE), 6) + 0.0 AS rel_err_int,
      |  ROUND(CAST(n_exact_int AS DOUBLE)
      |    / CAST(n_exact_a + n_exact_b - n_exact_int AS DOUBLE), 6) + 0.0
      |    AS jaccard_exact,
      |  ROUND(est_int / est_union, 6) + 0.0 AS jaccard_est
      |FROM est""".stripMargin
  }

  // --------------------------------------------------------------- q379
  /** Quantile-federation error certificate — the mergeability study the
    * sketch family's q356 (HLL registers merge EXACTLY) sets up by
    * contrast: quantiles do NOT merge, and the ubiquitous hack (average
    * each shard's local quantiles) carries a bias this query MEASURES
    * instead of hand-waving. Orders shard 4 ways by the replayable md5
    * grid; for each decile p₁₀..p₉₀: the TRUE global order statistic,
    * the mean of the four per-shard order statistics, and the absolute
    * federation error in dollars — the table that justifies (or, on
    * benign distributions, waives) shipping a real mergeable sketch.
    *
    * Exactness: all order statistics are exact integer cents at exact
    * integer ranks (type-1, k = ⌈p·n/10⌉); per-shard ranks derive from
    * ONE global rank over (shard, value, key) minus broadcast shard
    * offsets — never a per-shard window over a quarter of the fact;
    * the 4-value mean and the error are single decimal/double chains
    * snapped at 6 dp.
    *
    * Scale shape: two [[graft.operators.RangeRank.withGlobalRank]]
    * range shuffles (one global order, one shard-major order); rank
    * targets are a ≤45-row broadcast census joined map-side; everything
    * after is census arithmetic. */
  def q379QuantileMergeErr(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5Hash60
    val base = Kpis.table(spark, dir, "orders").select(
      col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
      .withColumn("shard", pmod(md5Hash60(concat(lit("qshard:"),
        col("k").cast("string"))), lit(4L)))
    val g = graft.operators.RangeRank.withGlobalRank(base, "rg",
      Seq(col("cents"), col("k")))
    val nTot = broadcast(g.agg(count(lit(1)).as("n")))
    val deciles = broadcast(spark.range(1, 10).select(col("id").as("p")))
    val trueVals = g.crossJoin(nTot).crossJoin(deciles)
      .filter(col("rg") === expr("(p * n + 9) div 10"))
      .select(col("p"), col("cents").as("true_cents"))
    val s = graft.operators.RangeRank.withGlobalRank(base, "rs",
      Seq(col("shard"), col("cents"), col("k")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val offs = broadcast(s.groupBy(col("shard"))
      .agg(min(col("rs")).as("off"), count(lit(1)).as("ns")))
    val shardVals = s.join(offs, "shard").crossJoin(deciles)
      .filter(col("rs") - col("off") + 1L === expr("(p * ns + 9) div 10"))
      .select(col("p"), col("cents"))
      .groupBy(col("p"))
      .agg(count(lit(1)).as("n_shards"),
        sum(col("cents")).as("sum_shard_cents"))
    val out = graft.plans.Eager.ckpt(
      trueVals.join(shardVals, "p")
        .select(col("p").as("decile"), col("n_shards"),
          (round(col("true_cents").cast("double") / 100.0, 6) + lit(0.0))
            .as("true_value"),
          (round(col("sum_shard_cents").cast("double") /
            col("n_shards").cast("double") / 100.0, 6) + lit(0.0))
            .as("merged_value"),
          (round(abs(col("sum_shard_cents").cast("double") /
            col("n_shards").cast("double") -
            col("true_cents").cast("double")) / 100.0, 6) + lit(0.0))
            .as("abs_error"))
        .orderBy("decile"))
    s.unpersist()
    out
  }

  val q379Sql: String = {
    val h = md5Hash60Sql("'qshard:' || CAST(o_orderkey AS VARCHAR)")
    s"""WITH base AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    ($h) % 4 AS shard
      |  FROM orders),
      |g AS (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY cents, k) AS rg,
      |    COUNT(*) OVER () AS n
      |  FROM base),
      |deciles AS (SELECT unnest(range(1, 10)) AS p),
      |tv AS (
      |  SELECT p, cents AS true_cents
      |  FROM g JOIN deciles ON rg = (p * n + 9) // 10),
      |s AS (
      |  SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY cents, k) AS ri,
      |    COUNT(*) OVER (PARTITION BY shard) AS ns
      |  FROM base),
      |sv AS (
      |  SELECT p, COUNT(*) AS n_shards,
      |    CAST(SUM(cents) AS BIGINT) AS sum_shard_cents
      |  FROM s JOIN deciles ON ri = (p * ns + 9) // 10
      |  GROUP BY p)
      |SELECT p AS decile, n_shards,
      |  round(CAST(true_cents AS DOUBLE) / 100.0, 6) + 0.0 AS true_value,
      |  round(CAST(sum_shard_cents AS DOUBLE)
      |    / CAST(n_shards AS DOUBLE) / 100.0, 6) + 0.0 AS merged_value,
      |  round(abs(CAST(sum_shard_cents AS DOUBLE)
      |    / CAST(n_shards AS DOUBLE) - CAST(true_cents AS DOUBLE))
      |    / 100.0, 6) + 0.0 AS abs_error
      |FROM tv JOIN sv USING (p)
      |ORDER BY decile""".stripMargin
  }

  // --------------------------------------------------------------- q408
  /** Conjunctive-predicate correlation audit — the FILTER-side companion
    * to q234's join-cardinality q-error: a cost-based optimizer prices
    * `WHERE a AND b` as sel(a)·sel(b), and that independence assumption
    * is exactly what breaks on correlated predicates. Six predicate
    * pairs over lineitem, chosen to span the three regimes: independent
    * base columns (quantity/discount/price — the generator draws them
    * independently, so the factor certifies ≈1), a DERIVED-expression
    * pair (price vs revenue = price·(1−discount) — the expression
    * predicate an optimizer cannot decompose), and a SAME-COLUMN range
    * pair (shipdate ≥ 1999-01-01 vs year(shipdate) = 1999 — overlapping
    * ranges in different syntax). Per pair: exact selectivities, the
    * measured joint, the independence estimate, the correlation factor
    * joint/(sel_a·sel_b), and the row-count q-error the planner would
    * eat. Factors ≫ 1 are where a real engine needs multi-column stats.
    *
    * Exactness: every count is an exact integer from ONE aggregate;
    * shares/factors/q-errors are single IEEE expressions over those
    * integers (identical operand order in both engines), 6-dp-snapped.
    *
    * Scale shape: ONE map-combinable aggregate over lineitem carrying
    * all indicator sums (the q382/q395 one-pass-sweep discipline), then
    * a 6-row stack of the 1-row result. No window, no join. */
  def q408PredicateCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val preds: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "qty_gt25" -> (col("l_quantity") > 25.0),
      "disc_gt05" -> (col("l_discount") > 0.05),
      "price_gt30k" -> (col("l_extendedprice") > 30000.0),
      "rev_gt30k" ->
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")) > 30000.0),
      "ship_ge99" -> (col("l_shipdate") >= lit("1999-01-01").cast("date")),
      "ship_in99" -> (year(col("l_shipdate")) === 1999))
    val pm = preds.toMap
    val pairs = Seq(
      ("qty_gt25", "disc_gt05"), ("qty_gt25", "price_gt30k"),
      ("disc_gt05", "price_gt30k"), ("price_gt30k", "rev_gt30k"),
      ("disc_gt05", "rev_gt30k"), ("ship_ge99", "ship_in99"))
    def cnt(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sum(when(c, 1L).otherwise(0L))
    val exprs = Seq(count(lit(1)).as("n")) ++
      preds.map { case (nm, c) => cnt(c).as(s"c_$nm") } ++
      pairs.map { case (a, b) => cnt(pm(a) && pm(b)).as(s"j_${a}__$b") }
    val agg = li.agg(exprs.head, exprs.tail: _*)
    agg.select(col("n"), expr(
        s"stack(${pairs.length}, " + pairs.map { case (a, b) =>
          s"'$a', '$b', c_$a, c_$b, j_${a}__$b"
        }.mkString(", ") +
          ") as (pred_a, pred_b, n_a, n_b, n_joint)"))
      .select(col("pred_a"), col("pred_b"), col("n"), col("n_a"),
        col("n_b"), col("n_joint"),
        r6(col("n_a").cast("double") / col("n").cast("double"))
          .as("sel_a"),
        r6(col("n_b").cast("double") / col("n").cast("double"))
          .as("sel_b"),
        r6(col("n_joint").cast("double") / col("n").cast("double"))
          .as("sel_joint"),
        r6(col("n_a").cast("double") * col("n_b").cast("double") /
          (col("n").cast("double") * col("n").cast("double")))
          .as("indep_est"),
        r6(col("n_joint").cast("double") * col("n").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("corr_factor"),
        when(col("n_joint") === 0L, lit(null).cast("double"))
          .otherwise(r6(greatest(
            col("n_a").cast("double") * col("n_b").cast("double") /
              (col("n").cast("double") * col("n_joint").cast("double")),
            col("n").cast("double") * col("n_joint").cast("double") /
              (col("n_a").cast("double") * col("n_b").cast("double")))))
          .as("q_error"))
      .orderBy("pred_a", "pred_b")
  }

  val q408Sql: String =
    """WITH f AS (
      |  SELECT l_quantity > 25.0 AS qty_gt25,
      |    l_discount > 0.05 AS disc_gt05,
      |    l_extendedprice > 30000.0 AS price_gt30k,
      |    l_extendedprice * (1.0 - l_discount) > 30000.0 AS rev_gt30k,
      |    l_shipdate >= DATE '1999-01-01' AS ship_ge99,
      |    year(l_shipdate) = 1999 AS ship_in99
      |  FROM lineitem),
      |a AS (
      |  SELECT COUNT(*) AS n,
      |    SUM(CASE WHEN qty_gt25 THEN 1 ELSE 0 END) AS c_qty_gt25,
      |    SUM(CASE WHEN disc_gt05 THEN 1 ELSE 0 END) AS c_disc_gt05,
      |    SUM(CASE WHEN price_gt30k THEN 1 ELSE 0 END) AS c_price_gt30k,
      |    SUM(CASE WHEN rev_gt30k THEN 1 ELSE 0 END) AS c_rev_gt30k,
      |    SUM(CASE WHEN ship_ge99 THEN 1 ELSE 0 END) AS c_ship_ge99,
      |    SUM(CASE WHEN ship_in99 THEN 1 ELSE 0 END) AS c_ship_in99,
      |    SUM(CASE WHEN qty_gt25 AND disc_gt05 THEN 1 ELSE 0 END) AS j1,
      |    SUM(CASE WHEN qty_gt25 AND price_gt30k THEN 1 ELSE 0 END) AS j2,
      |    SUM(CASE WHEN disc_gt05 AND price_gt30k THEN 1 ELSE 0 END) AS j3,
      |    SUM(CASE WHEN price_gt30k AND rev_gt30k THEN 1 ELSE 0 END) AS j4,
      |    SUM(CASE WHEN disc_gt05 AND rev_gt30k THEN 1 ELSE 0 END) AS j5,
      |    SUM(CASE WHEN ship_ge99 AND ship_in99 THEN 1 ELSE 0 END) AS j6
      |  FROM f),
      |s AS (
      |  SELECT n, pred_a, pred_b, n_a, n_b, n_joint FROM a,
      |  LATERAL (VALUES
      |    ('qty_gt25', 'disc_gt05', c_qty_gt25, c_disc_gt05, j1),
      |    ('qty_gt25', 'price_gt30k', c_qty_gt25, c_price_gt30k, j2),
      |    ('disc_gt05', 'price_gt30k', c_disc_gt05, c_price_gt30k, j3),
      |    ('price_gt30k', 'rev_gt30k', c_price_gt30k, c_rev_gt30k, j4),
      |    ('disc_gt05', 'rev_gt30k', c_disc_gt05, c_rev_gt30k, j5),
      |    ('ship_ge99', 'ship_in99', c_ship_ge99, c_ship_in99, j6))
      |    AS v(pred_a, pred_b, n_a, n_b, n_joint))
      |SELECT pred_a, pred_b, n, CAST(n_a AS BIGINT) AS n_a,
      |  CAST(n_b AS BIGINT) AS n_b, CAST(n_joint AS BIGINT) AS n_joint,
      |  round(CAST(n_a AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0 AS sel_a,
      |  round(CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0 AS sel_b,
      |  round(CAST(n_joint AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0
      |    AS sel_joint,
      |  round(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) + 0.0
      |    AS indep_est,
      |  round(CAST(n_joint AS DOUBLE) * CAST(n AS DOUBLE)
      |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) + 0.0
      |    AS corr_factor,
      |  CASE WHEN n_joint = 0 THEN NULL
      |    ELSE round(GREATEST(
      |      CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
      |        / (CAST(n AS DOUBLE) * CAST(n_joint AS DOUBLE)),
      |      CAST(n AS DOUBLE) * CAST(n_joint AS DOUBLE)
      |        / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 6) + 0.0
      |  END AS q_error
      |FROM s ORDER BY pred_a, pred_b""".stripMargin

  // --------------------------------------------------------------- q414
  /** Federated top-k merge certification — the heavy-hitter member the
    * mergeability family (q356 HLL ∪, q357 theta, q379 quantile
    * federation) was missing: S shards each hold a disjoint md5-split
    * of the fact, each returns its LOCAL top-k part keys, and the
    * coordinator re-scores the union with exact global counts (the
    * standard two-round-trip protocol). The failure mode is a key that
    * is globally top-k but locally mediocre on EVERY shard — it never
    * enters the union and no re-scoring can recover it. For S ∈
    * {2, 4, 8}: union size, overlap with the exact global top-k,
    * recall@k, the k-th true count, and the largest global count the
    * union EXCLUDED — when that excluded max is below the k-th true
    * count, the protocol provably lost nothing (asserted in spec
    * against the overlap).
    *
    * Exactness: shard assignment is the md5Hash60 parity hash both
    * engines spell identically; every census/rank is integer with the
    * (cnt desc, key) total order; recall is ONE 6-dp-snapped division.
    *
    * Scale shape: ONE (shard-hash, partkey) map-combinable census per
    * shard count off the fact scan (shards are a projection of one
    * hash), per-shard top-k via a shard-PARTITIONED window over the
    * part-entity census (never global), the union re-score joins a
    * ≤ S·k row frame against the global census, and the exact top-k
    * comes from [[graft.operators.RangeRank.withGlobalRank]] over the
    * same census. */
  def q414TopkFederation(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.md5Hash60
    val k = 10
    val shardCounts = Seq(2, 4, 8)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_partkey"),
        md5Hash60(col("l_orderkey").cast("string")).as("h"))
    val global = graft.plans.Eager.ckpt(
      li.groupBy(col("l_partkey")).agg(count(lit(1)).as("gcnt")))
    val trueTop = graft.operators.RangeRank
      .withGlobalRank(global, "trk", Seq(col("gcnt").desc, col("l_partkey")))
      .filter(col("trk") <= k)
      .select(col("l_partkey"), col("gcnt"), col("trk"))
    val kthTrue = trueTop.agg(min(col("gcnt")).as("kth_true_cnt"))
    val perS = shardCounts.map { s =>
      val census = li.select(pmod(col("h"), lit(s.toLong)).as("shard"),
          col("l_partkey"))
        .groupBy(col("shard"), col("l_partkey"))
        .agg(count(lit(1)).as("cnt"))
      val localTop = census.withColumn("lrk", row_number().over(Window
          .partitionBy(col("shard"))
          .orderBy(col("cnt").desc, col("l_partkey"))))
        .filter(col("lrk") <= k)
      val union = localTop.select(col("l_partkey")).distinct()
      // union is ≤ S·k rows; the constant partition key keeps the rank
      // window bounded AND out of the global-window (empty-partitionSpec)
      // class the guard audits
      val fed = union.join(global, "l_partkey")
        .withColumn("frk", row_number().over(Window.partitionBy(lit(1))
          .orderBy(col("gcnt").desc, col("l_partkey"))))
        .filter(col("frk") <= k)
      val overlap = fed.join(trueTop.select(col("l_partkey")), "l_partkey")
        .agg(count(lit(1)).as("overlap"))
      val excluded = global.join(union, Seq("l_partkey"), "left_anti")
        .agg(coalesce(max(col("gcnt")), lit(0L)).as("max_excluded_cnt"))
      union.agg(count(lit(1)).as("union_size"))
        .select(lit(s.toLong).as("n_shards"), lit(k.toLong).as("k"),
          col("union_size"))
        .crossJoin(overlap).crossJoin(excluded).crossJoin(broadcast(kthTrue))
    }.reduce(_ unionAll _)
    perS.select(col("n_shards"), col("k"), col("union_size"),
        col("overlap"),
        r6(col("overlap").cast("double") / col("k").cast("double"))
          .as("recall_at_k"),
        col("kth_true_cnt"), col("max_excluded_cnt"),
        (col("max_excluded_cnt") < col("kth_true_cnt")).as("provably_safe"))
      .orderBy("n_shards")
  }

  val q414Sql: String = {
    import graft.functions.TextFunctions.md5Hash60Sql
    val h = md5Hash60Sql("CAST(l_orderkey AS VARCHAR)")
    """WITH li AS (
      |  SELECT l_partkey, (HASHEXPR) AS h FROM lineitem),
      |global AS (
      |  SELECT l_partkey, COUNT(*) AS gcnt FROM li GROUP BY 1),
      |true_top AS (
      |  SELECT l_partkey, gcnt,
      |    row_number() OVER (ORDER BY gcnt DESC, l_partkey) AS trk
      |  FROM global QUALIFY trk <= 10),
      |kth AS (SELECT MIN(gcnt) AS kth_true_cnt FROM true_top),
      |s(n_shards) AS (VALUES (CAST(2 AS BIGINT)), (4), (8)),
      |census AS (
      |  SELECT n_shards, h % n_shards AS shard, l_partkey,
      |    COUNT(*) AS cnt
      |  FROM li CROSS JOIN s GROUP BY 1, 2, 3),
      |local_top AS (
      |  SELECT n_shards, shard, l_partkey,
      |    row_number() OVER (PARTITION BY n_shards, shard
      |      ORDER BY cnt DESC, l_partkey) AS lrk
      |  FROM census QUALIFY lrk <= 10),
      |u AS (
      |  SELECT DISTINCT n_shards, l_partkey FROM local_top),
      |fed AS (
      |  SELECT n_shards, u.l_partkey,
      |    row_number() OVER (PARTITION BY n_shards
      |      ORDER BY gcnt DESC, u.l_partkey) AS frk
      |  FROM u JOIN global ON u.l_partkey = global.l_partkey
      |  QUALIFY frk <= 10),
      |per AS (
      |  SELECT n_shards,
      |    (SELECT COUNT(*) FROM u u2 WHERE u2.n_shards = s.n_shards)
      |      AS union_size,
      |    (SELECT COUNT(*) FROM fed f JOIN true_top t
      |       ON f.l_partkey = t.l_partkey WHERE f.n_shards = s.n_shards)
      |      AS overlap,
      |    (SELECT COALESCE(MAX(gcnt), 0) FROM global g
      |       WHERE NOT EXISTS (SELECT 1 FROM u u3
      |         WHERE u3.n_shards = s.n_shards
      |           AND u3.l_partkey = g.l_partkey)) AS max_excluded_cnt
      |  FROM s)
      |SELECT n_shards, CAST(10 AS BIGINT) AS k, union_size, overlap,
      |  round(CAST(overlap AS DOUBLE) / 10.0, 6) + 0.0 AS recall_at_k,
      |  kth_true_cnt, CAST(max_excluded_cnt AS BIGINT)
      |    AS max_excluded_cnt,
      |  max_excluded_cnt < kth_true_cnt AS provably_safe
      |FROM per CROSS JOIN kth ORDER BY n_shards""".stripMargin
      .replace("(HASHEXPR)", s"($h)")
  }

  def queries: Seq[Query] = Seq(
    Query("q408_predicate_correlation", q408PredicateCorrelation _, q408Sql),
    Query("q414_topk_federation", q414TopkFederation _, q414Sql),
    Query("q379_quantile_merge_err", q379QuantileMergeErr _, q379Sql),
    Query("q357_theta_sketch_cert", q357ThetaSketchCert _, q357Sql),
    Query("q356_hll_merge_cert", q356HllMergeCert _, q356Sql),
    Query("q349_hll_cert", q349HllCert _, q349Sql),
    Query("q329_median_bootstrap", q329MedianBootstrap _, q329Sql),
    Query("q299_bloom_fpr_cert", q299BloomFprCert _, q299Sql),
    Query("q204_sampled_dup_rate", q204SampledDupRate _, q204Sql),
    Query("q208_neyman_alloc", q208NeymanAlloc _, q208Sql),
    Query("q216_bootstrap_ci", q216BootstrapCi _, q216Sql),
    Query("q218_rule_violations", q218RuleViolations _, q218Sql),
    Query("q221_order_reconciliation", q221OrderReconciliation _, q221Sql),
    Query("q224_stratified_draw", q224StratifiedDraw _, q224Sql),
    Query("q226_double_charges", q226DoubleCharges _, q226Sql),
    Query("q234_join_card_est", q234JoinCardEst _, q234Sql),
    Query("q244_eb_shrinkage", q244EbShrinkage _, q244Sql),
    Query("q245_capture_recapture", q245CaptureRecapture _, q245Sql))

  // --------------------------------------------------------------- q245
  /** Capture-recapture (Chapman) estimate of the distinct key
    * population: two INDEPENDENT deterministic hash-samples of the
    * (partkey, suppkey) key space play the two "captures";
    * N̂ = (n₁+1)(n₂+1)/(m+1) − 1 from their sizes and overlap, certified
    * against the exact distinct count. The ecology estimator is exactly
    * the dedup-planning tool for when even one full distinct pass is
    * too expensive: two cheap samples bound the population. Extends
    * q204 (which samples ONE stream against a full pass).
    *
    * Exactness: membership in each capture is an md5-prefix test on
    * DISTINCT keys; n₁, n₂, m, and the true count are exact; the
    * Chapman estimate and relative error are single double expressions,
    * rounded, −0.0-guarded.
    *
    * Scale shape: one distinct shuffle on the key, then one
    * map-combinable conditional-sum aggregate (the production variant
    * distincts only rows passing either capture filter — a ~40% scan). */
  def q245CaptureRecapture(spark: SparkSession, dir: String): DataFrame = {
    val keys = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(concat_ws("_", col("l_partkey"), col("l_suppkey")).as("k"))
      .distinct()
      .withColumn("in1",
        substring(md5(concat(col("k"), lit("_cap1"))), 1, 2) < "33")
      .withColumn("in2",
        substring(md5(concat(col("k"), lit("_cap2"))), 1, 2) < "33")
    keys.agg(
        count(lit(1)).as("true_distinct"),
        sum(when(col("in1"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("in2"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("in1") && col("in2"), 1L).otherwise(0L)).as("m"))
      .select(col("true_distinct"), col("n1"), col("n2"), col("m"),
        round((col("n1") + 1).cast("double") *
          (col("n2") + 1).cast("double") /
          (col("m") + 1).cast("double") - lit(1.0)).cast("long")
          .as("chapman_est"),
        (round(abs(
          (col("n1") + 1).cast("double") * (col("n2") + 1).cast("double") /
            (col("m") + 1).cast("double") - lit(1.0) -
            col("true_distinct").cast("double")) /
          col("true_distinct").cast("double"), 6) + lit(0.0))
          .as("rel_error"))
  }

  val q245Sql: String =
    """WITH keys AS (
      |  SELECT DISTINCT CAST(l_partkey AS VARCHAR) || '_' ||
      |    CAST(l_suppkey AS VARCHAR) AS k
      |  FROM lineitem),
      |f AS (
      |  SELECT k,
      |    substr(md5(k || '_cap1'), 1, 2) < '33' AS in1,
      |    substr(md5(k || '_cap2'), 1, 2) < '33' AS in2
      |  FROM keys),
      |s AS (
      |  SELECT COUNT(*) AS true_distinct,
      |    CAST(SUM(CASE WHEN in1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN in2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(SUM(CASE WHEN in1 AND in2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS m
      |  FROM f)
      |SELECT true_distinct, n1, n2, m,
      |  CAST(round(CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE) /
      |    CAST(m + 1 AS DOUBLE) - 1.0) AS BIGINT) AS chapman_est,
      |  round(abs(CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE) /
      |    CAST(m + 1 AS DOUBLE) - 1.0 - CAST(true_distinct AS DOUBLE)) /
      |    CAST(true_distinct AS DOUBLE), 6) + 0.0 AS rel_error
      |FROM s""".stripMargin

  // --------------------------------------------------------------- q244
  /** Empirical-Bayes shrinkage of per-supplier mean lead times: raw
    * group means ranked naively put small-n suppliers at both extremes
    * (they're the noisiest); the EB estimate pulls each mean toward the
    * grand mean in proportion to its noise, B_s = (σ²/n_s)/(σ²/n_s+τ²),
    * with method-of-moments τ² = max(0, var_between − σ²·mean(1/n_s)).
    * Output: the 10 suppliers whose rank the shrinkage CORRECTS most
    * (largest |raw − shrunk|) — invariably the thin-history ones a
    * naive SLA scorecard would have flagged.
    *
    * Exactness: lead times are exact integer days; σ², var_between,
    * Σ(1/n_s) are assembled from exact sums with per-group double terms
    * rounded into DECIMAL before every cross-group total (q208's
    * discipline); each supplier's shrunk mean is then one double
    * expression; top-10 ordering is total.
    *
    * Scale shape: one fact join + per-supplier hash agg; two
    * census-level rollups; one broadcast of the 1-row hyperparameters
    * back onto the supplier census. */
  def q244EbShrinkage(spark: SparkSession, dir: String): DataFrame = {
    val lead = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .cast("long").as("x"))
    val grp = lead.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .localCheckpoint(true)
    val hyper = grp
      .select(col("n"), col("sx"), col("sxx"),
        (col("sx").cast("double") / col("n").cast("double")).as("m"))
      .agg(
        count(lit(1)).as("s_groups"),
        sum(col("n")).as("nn"), sum(col("sx")).as("tsx"),
        sum(col("sxx")).as("tsxx"),
        sum(round(col("n").cast("double") * col("m") * col("m"), 6)
          .cast("decimal(28,6)")).as("snm2"),
        sum(round(lit(1.0) / col("n").cast("double"), 9)
          .cast("decimal(18,9)")).as("sinv"))
      .select(col("s_groups"), col("nn"),
        (col("tsx").cast("double") / col("nn").cast("double")).as("g"),
        // pooled within-group variance: (Σx² − Σ n_s·m_s²)/(N − S)
        ((col("tsxx").cast("double") - col("snm2").cast("double")) /
          (col("nn") - col("s_groups")).cast("double")).as("sig2"),
        // between-group variance of means around the grand mean
        ((col("snm2").cast("double") -
          col("nn").cast("double") *
            (col("tsx").cast("double") / col("nn").cast("double")) *
            (col("tsx").cast("double") / col("nn").cast("double"))) /
          col("nn").cast("double")).as("var_b"),
        (col("sinv").cast("double") / col("s_groups").cast("double"))
          .as("mean_inv_n"))
      .select(col("g"), col("sig2"),
        greatest(col("var_b") - col("sig2") * col("mean_inv_n"), lit(0.0))
          .as("tau2"))
    val withM = grp.select(col("l_suppkey"), col("n"),
      (col("sx").cast("double") / col("n").cast("double")).as("raw_mean"))
    withM.crossJoin(broadcast(hyper))
      .withColumn("b",
        (col("sig2") / col("n").cast("double")) /
          (col("sig2") / col("n").cast("double") + col("tau2")))
      .select(col("l_suppkey"), col("n"),
        (round(col("raw_mean"), 6) + lit(0.0)).as("raw_mean"),
        (round(col("b") * col("g") + (lit(1.0) - col("b")) *
          col("raw_mean"), 6) + lit(0.0)).as("shrunk_mean"),
        (round(abs(col("b") * (col("g") - col("raw_mean"))), 6) + lit(0.0))
          .as("correction"))
      .orderBy(desc("correction"), asc("l_suppkey"))
      .limit(10)
  }

  val q244Sql: String =
    """WITH lead AS (
      |  SELECT l_suppkey,
      |    CAST(date_diff('day', CAST(o_orderdate AS DATE),
      |      CAST(l_shipdate AS DATE)) AS BIGINT) AS x
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |grp AS (
      |  SELECT l_suppkey, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx
      |  FROM lead GROUP BY 1),
      |hyper0 AS (
      |  SELECT COUNT(*) AS s_groups, CAST(SUM(n) AS BIGINT) AS nn,
      |    CAST(SUM(sx) AS BIGINT) AS tsx, CAST(SUM(sxx) AS BIGINT) AS tsxx,
      |    SUM(CAST(round(CAST(n AS DOUBLE) *
      |      (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) *
      |      (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6)
      |      AS DECIMAL(28,6))) AS snm2,
      |    SUM(CAST(round(1.0 / CAST(n AS DOUBLE), 9) AS DECIMAL(18,9)))
      |      AS sinv
      |  FROM grp),
      |hyper AS (
      |  SELECT CAST(tsx AS DOUBLE) / CAST(nn AS DOUBLE) AS g,
      |    (CAST(tsxx AS DOUBLE) - CAST(snm2 AS DOUBLE)) /
      |      CAST(nn - s_groups AS DOUBLE) AS sig2,
      |    greatest(
      |      (CAST(snm2 AS DOUBLE) - CAST(nn AS DOUBLE) *
      |        (CAST(tsx AS DOUBLE) / CAST(nn AS DOUBLE)) *
      |        (CAST(tsx AS DOUBLE) / CAST(nn AS DOUBLE))) /
      |        CAST(nn AS DOUBLE) -
      |      ((CAST(tsxx AS DOUBLE) - CAST(snm2 AS DOUBLE)) /
      |        CAST(nn - s_groups AS DOUBLE)) *
      |      (CAST(sinv AS DOUBLE) / CAST(s_groups AS DOUBLE)), 0.0)
      |      AS tau2
      |  FROM hyper0),
      |m AS (
      |  SELECT l_suppkey, n,
      |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS raw_mean
      |  FROM grp),
      |sc AS (
      |  SELECT l_suppkey, n, raw_mean, g, tau2,
      |    (sig2 / CAST(n AS DOUBLE)) /
      |      (sig2 / CAST(n AS DOUBLE) + tau2) AS b
      |  FROM m, hyper)
      |SELECT l_suppkey, n,
      |  round(raw_mean, 6) + 0.0 AS raw_mean,
      |  round(b * g + (1.0 - b) * raw_mean, 6) + 0.0 AS shrunk_mean,
      |  round(abs(b * (g - raw_mean)), 6) + 0.0 AS correction
      |FROM sc
      |ORDER BY correction DESC, l_suppkey LIMIT 10""".stripMargin

  // --------------------------------------------------------------- q234
  /** Join-cardinality estimator certification: the textbook
    * containment-assumption estimate |A ⋈ B| ≈ |A|·|B| / max(dA, dB)
    * (what a cost-based optimizer computes from table stats) versus the
    * ACTUAL join size, for the two workhorse joins (orders⋈lineitem on
    * the order key, part⋈lineitem on the part key). The ratio is the
    * calibration a planner audit tracks — a misestimate here is how a
    * 100 TB join picks the wrong side to broadcast.
    *
    * Exactness: all row/distinct counts and actual join sizes are
    * exact; the estimate and q-error are single double expressions.
    *
    * Scale shape: per-join, two 1-row stats aggregates plus one
    * count-after-join (the certification cost; a production audit
    * samples instead). Everything reduces before the union of two
    * 1-row frames. */
  def q234JoinCardEst(spark: SparkSession, dir: String): DataFrame = {
    def one(name: String, a: DataFrame, ak: String, b: DataFrame,
        bk: String): DataFrame = {
      val sa = a.agg(count(lit(1)).as("na"),
        count_distinct(col(ak)).as("da"))
      val sb = b.agg(count(lit(1)).as("nb"),
        count_distinct(col(bk)).as("db"))
      val actual = a.join(b, col(ak) === col(bk))
        .agg(count(lit(1)).as("actual"))
      sa.crossJoin(sb).crossJoin(actual)
        .select(
          lit(name).as("join_name"), col("na"), col("nb"),
          col("da"), col("db"), col("actual"),
          round(col("na").cast("double") * col("nb").cast("double") /
            greatest(col("da"), col("db")).cast("double")).cast("long")
            .as("estimate"))
    }
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val a = one("orders_lineitem",
      spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey")), "o_orderkey",
      li.select(col("l_orderkey")), "l_orderkey")
    val b = one("part_lineitem",
      spark.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey")), "p_partkey",
      li.select(col("l_partkey")), "l_partkey")
    a.unionAll(b)
      .select(col("join_name"), col("na"), col("nb"), col("da"), col("db"),
        col("actual"), col("estimate"),
        (round(
          greatest(
            col("estimate").cast("double") / col("actual").cast("double"),
            col("actual").cast("double") / col("estimate").cast("double")),
          6) + lit(0.0)).as("q_error"))
      .orderBy("join_name")
  }

  val q234Sql: String =
    """WITH oj AS (
      |  SELECT 'orders_lineitem' AS join_name,
      |    (SELECT COUNT(*) FROM orders) AS na,
      |    (SELECT COUNT(*) FROM lineitem) AS nb,
      |    (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS da,
      |    (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS db,
      |    (SELECT COUNT(*) FROM orders JOIN lineitem
      |       ON o_orderkey = l_orderkey) AS actual),
      |pj AS (
      |  SELECT 'part_lineitem' AS join_name,
      |    (SELECT COUNT(*) FROM part) AS na,
      |    (SELECT COUNT(*) FROM lineitem) AS nb,
      |    (SELECT COUNT(DISTINCT p_partkey) FROM part) AS da,
      |    (SELECT COUNT(DISTINCT l_partkey) FROM lineitem) AS db,
      |    (SELECT COUNT(*) FROM part JOIN lineitem
      |       ON p_partkey = l_partkey) AS actual),
      |u AS (SELECT * FROM oj UNION ALL SELECT * FROM pj),
      |e AS (
      |  SELECT *, CAST(round(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) /
      |      CAST(greatest(da, db) AS DOUBLE)) AS BIGINT) AS estimate
      |  FROM u)
      |SELECT join_name, na, nb, da, db, actual, estimate,
      |  round(greatest(
      |    CAST(estimate AS DOUBLE) / CAST(actual AS DOUBLE),
      |    CAST(actual AS DOUBLE) / CAST(estimate AS DOUBLE)), 6) + 0.0
      |    AS q_error
      |FROM e ORDER BY join_name""".stripMargin

  // --------------------------------------------------------------- q226
  /** Duplicate-payment screening: orders that repeat the SAME
    * (customer, order date, total price) — the standard double-charge /
    * double-submission signature an AP-audit runs before clawbacks.
    * Emits the census by repetition count (how many groups appear
    * exactly k times) plus the money at risk (the duplicated excess:
    * (k−1)·amount per group).
    *
    * Exactness: grouping keys are exact (date grain, cents); "at risk"
    * is exact cent arithmetic; one double division at the end for the
    * excess share of total revenue.
    *
    * Scale shape: two chained map-combinable hash aggs (fact →
    * signature groups → k-census) and a 1-row broadcast total; no
    * window, no join back to the fact. */
  def q226DoubleCharges(spark: SparkSession, dir: String): DataFrame = {
    val sig = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("o_custkey"), col("day"), col("cents"))
      .agg(count(lit(1)).as("k"))
    val tot = spark.read.parquet(s"$dir/orders.parquet")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("total"))
    sig.groupBy(col("k"))
      .agg(count(lit(1)).as("n_groups"),
        sum((col("k") - 1) * col("cents")).as("excess_cents"))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("n_groups"),
        (col("excess_cents").cast("double") / lit(100.0))
          .as("money_at_risk"),
        (round(col("excess_cents").cast("double") /
          col("total").cast("double"), 9) + lit(0.0)).as("risk_share"))
      .orderBy("k")
  }

  val q226Sql: String =
    """WITH sig AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    COUNT(*) AS k
      |  FROM orders GROUP BY 1, 2, 3),
      |tot AS (
      |  SELECT CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
      |    AS BIGINT) AS total
      |  FROM orders)
      |SELECT k, COUNT(*) AS n_groups,
      |  CAST(SUM((k - 1) * cents) AS DOUBLE) / 100.0 AS money_at_risk,
      |  round(CAST(SUM((k - 1) * cents) AS DOUBLE) /
      |    CAST(total AS DOUBLE), 9) + 0.0 AS risk_share
      |FROM sig, tot GROUP BY k, total ORDER BY k""".stripMargin

  // --------------------------------------------------------------- q224
  /** EXECUTE the q208 Neyman allocation: deterministically draw n_h
    * orders from each priority stratum (bottom-k by salted md5 — the
    * q38 consistent-sample discipline, so the draw is reproducible and
    * stable under appends of non-sampled rows) and certify the result:
    * realized counts equal the allocation, and the stratified
    * mean-of-means tracks the population mean. Planner (q208) →
    * executor (this) is the composition a QA-sampling pipeline actually
    * ships.
    *
    * Exactness: the draw is rank ≤ n_h under the md5 total order
    * (ties impossible: the salted key embeds the unique order key);
    * sample means are single double divisions of exact cent sums.
    *
    * Scale shape: the allocation reuses q208's censuses (strata-scale,
    * broadcast); the draw is ONE partitioned window (rank within
    * stratum — 5 partitions of fact scale, the same shape as any
    * per-group top-k, lowered map-side via WindowGroupLimit after the
    * rank filter) over rows carrying only key+cents. */
  def q224StratifiedDraw(spark: SparkSession, dir: String): DataFrame = {
    val alloc = q208NeymanAlloc(spark, dir)
      .select(col("priority").as("a_priority"), col("n_alloc"))
    val keyed = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .withColumn("h",
        md5(concat(lit("draw:"), col("o_orderkey").cast("string"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("priority")).orderBy(col("h"))
    keyed
      .withColumn("rk", row_number().over(w).cast("long"))
      .join(broadcast(alloc), col("priority") === col("a_priority"))
      .filter(col("rk") <= col("n_alloc"))
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n_drawn"),
        sum(col("cents")).as("sc"), max(col("n_alloc")).as("n_alloc"))
      .select(col("priority"), col("n_alloc"), col("n_drawn"),
        (round(col("sc").cast("double") /
          (lit(100.0) * col("n_drawn").cast("double")), 6) + lit(0.0))
          .as("sample_mean"))
      .orderBy("priority")
  }

  val q224Sql: String = {
    // reuse q208's CTE chain verbatim (one SQL spelling of the
    // allocation arithmetic), dropping its final SELECT
    val allocCte = q208Sql
      .replace("WITH s AS (", "s AS (")
      .replaceAll("(?s)\\nSELECT priority, n, sigma,.*$", "")
      .trim
    s"""WITH $allocCte,
      |alloc AS (
      |  SELECT priority AS a_priority,
      |    CAST(round(1000.0 * CAST(wgt AS DOUBLE) / CAST(tot AS DOUBLE))
      |      AS BIGINT) AS n_alloc
      |  FROM w2, t),
      |keyed AS (
      |  SELECT o_orderkey, o_orderpriority AS priority,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    md5('draw:' || CAST(o_orderkey AS VARCHAR)) AS h
      |  FROM orders),
      |rk AS (
      |  SELECT *, CAST(row_number() OVER (
      |    PARTITION BY priority ORDER BY h) AS BIGINT) AS rk
      |  FROM keyed),
      |drawn AS (
      |  SELECT r.priority, r.cents, a.n_alloc
      |  FROM rk r JOIN alloc a ON r.priority = a.a_priority
      |  WHERE r.rk <= a.n_alloc)
      |SELECT priority, CAST(MAX(n_alloc) AS BIGINT) AS n_alloc,
      |  COUNT(*) AS n_drawn,
      |  round(CAST(SUM(cents) AS DOUBLE) /
      |    (100.0 * CAST(COUNT(*) AS DOUBLE)), 6) + 0.0 AS sample_mean
      |FROM drawn GROUP BY priority ORDER BY priority""".stripMargin
  }

  // --------------------------------------------------------------- q221
  /** Header/detail financial reconciliation: does each order's
    * o_totalprice match the sum of its lineitems' discounted, taxed
    * extended prices? Emits the mismatch census — orders checked,
    * orders without details, match rates at 1%/10% relative tolerance,
    * and the mean absolute relative difference. The cross-table audit
    * every warehouse runs after load (q190 reconciles row DIGESTS;
    * this reconciles BUSINESS ARITHMETIC).
    *
    * Exactness: detail sums are exact DECIMAL(18,6) per order
    * (2 dp price × 2 dp discount × 2 dp tax = ≤6 dp products);
    * tolerance tests are integer-scaled decimal comparisons
    * (|detail − header|·100 ≤ header, etc.), not float ratios at the
    * boundary; each order's relative difference is rounded into
    * DECIMAL(16,12) before the corpus mean.
    *
    * Scale shape: one map-combinable detail rollup keyed by order, one
    * hash join to headers, one final aggregate — two linear shuffles. */
  def q221OrderReconciliation(spark: SparkSession, dir: String): DataFrame = {
    val detail = spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_orderkey"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")) *
        (lit(1) + col("l_tax"))).cast("decimal(18,6)")).as("detail_sum"))
    val j = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("header"))
      .join(detail, col("o_orderkey") === col("l_orderkey"), "left")
    val diff = abs(col("detail_sum") - col("header"))
    j.agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("detail_sum").isNull, 1L).otherwise(0L))
          .as("n_no_detail"),
        sum(when(col("detail_sum").isNotNull &&
          diff * 100 <= col("header"), 1L).otherwise(0L)).as("n_within_1pct"),
        sum(when(col("detail_sum").isNotNull &&
          diff * 10 <= col("header"), 1L).otherwise(0L)).as("n_within_10pct"),
        sum(when(col("detail_sum").isNotNull,
          round(diff.cast("double") / col("header").cast("double"), 12)
            .cast("decimal(16,12)")).otherwise(lit(0).cast("decimal(16,12)")))
          .as("rd_sum"))
      .select(
        col("n_orders"), col("n_no_detail"), col("n_within_1pct"),
        col("n_within_10pct"),
        (round(col("rd_sum").cast("double") /
          (col("n_orders") - col("n_no_detail")).cast("double"), 6) +
          lit(0.0)).as("mean_abs_rel_diff"))
  }

  val q221Sql: String =
    """WITH detail AS (
      |  SELECT l_orderkey,
      |    SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
      |        AS DECIMAL(18,6))) AS detail_sum
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS header, detail_sum
      |  FROM orders LEFT JOIN detail ON o_orderkey = l_orderkey)
      |SELECT COUNT(*) AS n_orders,
      |  CAST(SUM(CASE WHEN detail_sum IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_no_detail,
      |  CAST(SUM(CASE WHEN detail_sum IS NOT NULL
      |      AND abs(detail_sum - header) * 100 <= header
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1pct,
      |  CAST(SUM(CASE WHEN detail_sum IS NOT NULL
      |      AND abs(detail_sum - header) * 10 <= header
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_within_10pct,
      |  round(CAST(SUM(CASE WHEN detail_sum IS NOT NULL
      |      THEN CAST(round(CAST(abs(detail_sum - header) AS DOUBLE)
      |          / CAST(header AS DOUBLE), 12) AS DECIMAL(16,12))
      |      ELSE CAST(0 AS DECIMAL(16,12)) END) AS DOUBLE) /
      |    CAST(COUNT(*) - SUM(CASE WHEN detail_sum IS NULL THEN 1 ELSE 0
      |      END) AS DOUBLE), 6) + 0.0 AS mean_abs_rel_diff
      |FROM j""".stripMargin
}
