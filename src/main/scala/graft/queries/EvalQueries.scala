package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.ExactMath.r6

/** Rank-concordance and effect-size statistics over collapsed censuses —
  * the nonparametric summaries the test family reports next to its
  * p-values: q225's Spearman ρ says "the ranks correlate", Kendall's
  * τ-b (q343) counts HOW OFTEN two orderings agree pair-by-pair, and
  * Cliff's δ (q344) turns q203's Mann–Whitney U into the standardized
  * effect size reviewers ask for when N is large enough to make any
  * difference "significant". Extension scope (the reference has no
  * statistics surface); both queries collapse fact tables to bounded
  * censuses before any pairwise work, so the quadratic term is over
  * census cells, never rows.
  */
object EvalQueries {

  /** Shared per-brand census (q343 / q345 — ADVICE r13): corpus order
    * volume x (exact decimal quantity sum over the lineitem⋈part fact
    * join) beside the part-side retail-price total ysum and part count,
    * one row per brand (catalog-bounded, ≤25 cells). Consumers compare
    * means cross-multiplied or cast x down — the decimal cast
    * discipline lives here ONCE so the two stay in lockstep. */
  private[queries] def brandCensus(spark: SparkSession,
      dir: String): DataFrame = {
    val vol = Kpis.table(spark, dir, "lineitem")
      .select(col("l_partkey"),
        col("l_quantity").cast("decimal(18,2)").as("q"))
      .join(Kpis.table(spark, dir, "part")
        .select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(col("q")).cast("decimal(28,2)").as("x"))
    val price = Kpis.table(spark, dir, "part")
      .groupBy(col("p_brand"))
      .agg(sum(col("p_retailprice").cast("decimal(18,2)"))
        .cast("decimal(24,2)").as("ysum"),
        count(lit(1)).as("n_parts"))
    vol.join(price, "p_brand")
  }

  /** SQL twin of [[brandCensus]]; interpolate after WITH. */
  private[queries] val brandCensusCte: String =
    """vol AS (
      |  SELECT p_brand,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(28,2))
      |      AS x
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1),
      |price AS (
      |  SELECT p_brand,
      |    CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DECIMAL(24,2))
      |      AS ysum,
      |    COUNT(*) AS n_parts
      |  FROM part GROUP BY 1),
      |census AS (SELECT * FROM vol JOIN price USING (p_brand))""".stripMargin

  // --------------------------------------------------------------- q343
  /** Kendall τ-b between a brand's order volume and its average retail
    * price, on the 25-brand census: do expensive brands move less?
    * Every unordered brand pair is classified concordant / discordant /
    * tied-x / tied-y, and τ-b = (C − D)/√((n₀−n₁)(n₀−n₂)) with n₀ the
    * pair count and n₁/n₂ the tied-pair counts (Kendall 1945's tie
    * correction — the form q225's Spearman footnote defers to).
    *
    * Exactness: x (summed quantity) and the price comparison are exact
    * decimals — average prices are compared CROSS-MULTIPLIED
    * (sum_a·n_b vs sum_b·n_a), so no division ever enters the
    * classification; C/D/tie counts are integers; τ-b is one √ and one
    * division over exact-integer operands (IEEE sqrt is correctly
    * rounded, hence cross-engine identical), snapped to 6 dp.
    *
    * Scale shape: two fact-side map-combinable aggregates collapse to
    * the |brands| census (25 rows — catalog-bounded, the q104/q179
    * argument); the pairwise stage is a broadcast non-equi self-join of
    * that census with itself (≤625 pairs) — at 100 TB the fact scans
    * dominate and the census arithmetic stays constant-size. */
  def q343KendallTau(spark: SparkSession, dir: String): DataFrame = {
    val census = brandCensus(spark, dir)
    val a = census.select(col("p_brand").as("brand_a"), col("x").as("xa"),
      col("ysum").as("ysa"), col("n_parts").as("na"))
    val b = census.select(col("p_brand").as("brand_b"), col("x").as("xb"),
      col("ysum").as("ysb"), col("n_parts").as("nb"))
    // broadcast non-equi self-join of the 25-row census: <=625 pairs
    val pairs = a.join(broadcast(b), col("brand_a") < col("brand_b"))
      .withColumn("cmp_x",
        when(col("xa") > col("xb"), 1).when(col("xa") < col("xb"), -1)
          .otherwise(0))
      // mean_a vs mean_b compared cross-multiplied: ysa*nb vs ysb*na
      .withColumn("ya_x", (col("ysa") * col("nb").cast("decimal(12,0)"))
        .cast("decimal(37,2)"))
      .withColumn("yb_x", (col("ysb") * col("na").cast("decimal(12,0)"))
        .cast("decimal(37,2)"))
      .withColumn("cmp_y",
        when(col("ya_x") > col("yb_x"), 1)
          .when(col("ya_x") < col("yb_x"), -1).otherwise(0))
    val nGroups = census.agg(count(lit(1)).as("n_brands"))
    val counted = pairs.agg(
      count(lit(1)).as("n_pairs"),
      sum(when(col("cmp_x") * col("cmp_y") > 0, 1L).otherwise(0L))
        .as("concordant"),
      sum(when(col("cmp_x") * col("cmp_y") < 0, 1L).otherwise(0L))
        .as("discordant"),
      sum(when(col("cmp_x") === 0, 1L).otherwise(0L)).as("ties_x"),
      sum(when(col("cmp_y") === 0, 1L).otherwise(0L)).as("ties_y"),
      sum(when(col("cmp_x") === 0 && col("cmp_y") === 0, 1L).otherwise(0L))
        .as("ties_both"))
    counted.crossJoin(broadcast(nGroups))
      .withColumn("tau_b",
        round((col("concordant") - col("discordant")).cast("double") /
          sqrt(((col("n_pairs") - col("ties_x")) *
            (col("n_pairs") - col("ties_y"))).cast("double")), 6) +
          lit(0.0))
      .select(col("n_brands"), col("n_pairs"), col("concordant"),
        col("discordant"), col("ties_x"), col("ties_y"), col("ties_both"),
        col("tau_b"))
  }

  val q343Sql: String =
    s"""WITH $brandCensusCte,
      |pairs AS (
      |  SELECT
      |    CASE WHEN a.x > b.x THEN 1 WHEN a.x < b.x THEN -1 ELSE 0 END
      |      AS cmp_x,
      |    CASE WHEN CAST(a.ysum * CAST(b.n_parts AS DECIMAL(12,0))
      |             AS DECIMAL(37,2))
      |           > CAST(b.ysum * CAST(a.n_parts AS DECIMAL(12,0))
      |             AS DECIMAL(37,2)) THEN 1
      |         WHEN CAST(a.ysum * CAST(b.n_parts AS DECIMAL(12,0))
      |             AS DECIMAL(37,2))
      |           < CAST(b.ysum * CAST(a.n_parts AS DECIMAL(12,0))
      |             AS DECIMAL(37,2)) THEN -1
      |         ELSE 0 END AS cmp_y
      |  FROM census a JOIN census b ON a.p_brand < b.p_brand),
      |ng AS (SELECT COUNT(*) AS n_brands FROM census),
      |counted AS (
      |  SELECT COUNT(*) AS n_pairs,
      |    CAST(SUM(CASE WHEN cmp_x * cmp_y > 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS concordant,
      |    CAST(SUM(CASE WHEN cmp_x * cmp_y < 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS discordant,
      |    CAST(SUM(CASE WHEN cmp_x = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS ties_x,
      |    CAST(SUM(CASE WHEN cmp_y = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS ties_y,
      |    CAST(SUM(CASE WHEN cmp_x = 0 AND cmp_y = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS ties_both
      |  FROM pairs)
      |SELECT n_brands, n_pairs, concordant, discordant, ties_x, ties_y,
      |  ties_both,
      |  ROUND(CAST(concordant - discordant AS DOUBLE) /
      |    SQRT(CAST((n_pairs - ties_x) * (n_pairs - ties_y) AS DOUBLE)),
      |    6) + 0.0 AS tau_b
      |FROM counted, ng""".stripMargin

  // --------------------------------------------------------------- q344
  /** Cliff's delta for URGENT-vs-LOW order-line quantities — the
    * standardized ordinal effect size behind q203's Mann–Whitney U:
    * δ = (#{x>y} − #{x<y}) / (n₁·n₂) over all cross-group pairs, read
    * against Romano et al.'s |δ| benchmarks (0.147 / 0.33 / 0.474 →
    * negligible / small / medium / large). q203 says WHETHER the
    * distributions differ; δ says by HOW MUCH, on a −1…1 scale that
    * never inflates with N — the quantity every large-N A/B readout
    * should report beside its p-value.
    *
    * Exactness: both groups collapse to the 50-value quantity census
    * (q203/q325's grid); the pair classification is census×census with
    * INTEGER count products, so greater/less/ties are exact; δ is one
    * double division of exact integers — bit-identical, no rounding
    * needed.
    *
    * Scale shape: one fact join collapses to two ≤50-row value censuses
    * (map-combinable agg); the cross-census product is a broadcast
    * nested-loop over ≤2500 cell pairs — constant work at any corpus
    * size, the same argument as q203. */
  def q344CliffDelta(spark: SparkSession, dir: String): DataFrame = {
    val joined = Kpis.table(spark, dir, "lineitem")
      .select(col("l_orderkey"),
        col("l_quantity").cast("decimal(18,2)").as("v"))
      .join(Kpis.table(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    val census = joined.groupBy(col("v"))
      .agg(sum(when(col("o_orderpriority") === "1-URGENT", 1L)
        .otherwise(0L)).as("c_u"),
        sum(when(col("o_orderpriority") === "5-LOW", 1L).otherwise(0L))
          .as("c_l"))
    val u = census.select(col("v").as("vu"), col("c_u"))
      .filter(col("c_u") > 0)
    val l = census.select(col("v").as("vl"), col("c_l"))
      .filter(col("c_l") > 0)
    val crossed = u.join(broadcast(l), lit(true))
    val counted = crossed.agg(
      sum(col("c_u") * col("c_l")).as("n_pairs"),
      sum(when(col("vu") > col("vl"), col("c_u") * col("c_l"))
        .otherwise(0L)).as("greater"),
      sum(when(col("vu") < col("vl"), col("c_u") * col("c_l"))
        .otherwise(0L)).as("less"),
      sum(when(col("vu") === col("vl"), col("c_u") * col("c_l"))
        .otherwise(0L)).as("ties"))
    val sizes = census.agg(sum(col("c_u")).as("n_urgent"),
      sum(col("c_l")).as("n_low"))
    counted.crossJoin(broadcast(sizes))
      .withColumn("delta",
        (col("greater") - col("less")).cast("double") /
          (col("n_urgent") * col("n_low")).cast("double"))
      .withColumn("magnitude",
        when(abs(col("delta")) < 0.147, "negligible")
          .when(abs(col("delta")) < 0.33, "small")
          .when(abs(col("delta")) < 0.474, "medium")
          .otherwise("large"))
      .select(col("n_urgent"), col("n_low"), col("greater"), col("less"),
        col("ties"), col("delta"), col("magnitude"))
  }

  val q344Sql: String =
    """WITH joined AS (
      |  SELECT CAST(l_quantity AS DECIMAL(18,2)) AS v, o_orderpriority
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |census AS (
      |  SELECT v,
      |    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
      |      END) AS BIGINT) AS c_u,
      |    CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0
      |      END) AS BIGINT) AS c_l
      |  FROM joined GROUP BY 1),
      |u AS (SELECT v AS vu, c_u FROM census WHERE c_u > 0),
      |l AS (SELECT v AS vl, c_l FROM census WHERE c_l > 0),
      |counted AS (
      |  SELECT CAST(SUM(c_u * c_l) AS BIGINT) AS n_pairs,
      |    CAST(SUM(CASE WHEN vu > vl THEN c_u * c_l ELSE 0 END)
      |      AS BIGINT) AS greater,
      |    CAST(SUM(CASE WHEN vu < vl THEN c_u * c_l ELSE 0 END)
      |      AS BIGINT) AS less,
      |    CAST(SUM(CASE WHEN vu = vl THEN c_u * c_l ELSE 0 END)
      |      AS BIGINT) AS ties
      |  FROM u CROSS JOIN l),
      |sizes AS (
      |  SELECT CAST(SUM(c_u) AS BIGINT) AS n_urgent,
      |    CAST(SUM(c_l) AS BIGINT) AS n_low
      |  FROM census)
      |SELECT n_urgent, n_low, greater, less, ties,
      |  CAST(greater - less AS DOUBLE)
      |    / CAST(n_urgent * n_low AS DOUBLE) AS delta,
      |  CASE WHEN ABS(CAST(greater - less AS DOUBLE)
      |         / CAST(n_urgent * n_low AS DOUBLE)) < 0.147
      |    THEN 'negligible'
      |    WHEN ABS(CAST(greater - less AS DOUBLE)
      |         / CAST(n_urgent * n_low AS DOUBLE)) < 0.33 THEN 'small'
      |    WHEN ABS(CAST(greater - less AS DOUBLE)
      |         / CAST(n_urgent * n_low AS DOUBLE)) < 0.474 THEN 'medium'
      |    ELSE 'large' END AS magnitude
      |FROM counted, sizes""".stripMargin

  // --------------------------------------------------------------- q428
  /** Preference-pair construction census — the DPO/RLHF data-prep
    * operator: build (chosen, rejected) pairs from a scored corpus by
    * rank-matching each language's i-th best document with its i-th
    * worst (the maximally-separated matching — every document is used
    * at most once, no quadratic pair set, and the score gap is as
    * large as the corpus allows per pair). Per language: documents,
    * pairs built, the mean quality gap, and how many pairs clear the
    * gap floors {0.1, 0.2, 0.4} — the floor is the knob that trades
    * pair count against label confidence, and this table is its
    * decision surface.
    *
    * Exactness: quality is q23's oracle-certified bit-exact double, so
    * the (quality desc, doc_id) order is identical across engines;
    * ranks come from one global RangeRank lifted to per-lang ranks via
    * the broadcast per-lang offset census; gaps snap at 9 dp into a
    * DECIMAL mean; pair counts are integers.
    *
    * Scale shape: ONE RangeRank range shuffle (never a per-lang window
    * over doc-scale rows — the offset census is ≤ |langs| rows), one
    * linear (lang, rank) equi-self-join for the matching, then a
    * map-combinable per-lang rollup. */
  def q428PreferencePairs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = DocQueries.q23DocQuality(spark, dir)
      .select(col("doc_id"), col("quality"))
    val d = Kpis.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .join(q, "doc_id")
    val ranked = graft.plans.Eager.ckpt(graft.operators.RangeRank
      .withGlobalRank(d, "rg",
        Seq(col("lang"), col("quality").desc, col("doc_id"))))
    val offs = ranked.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
      .withColumn("off", coalesce(sum(col("nl")).over(
        Window.orderBy(col("lang"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val r = ranked.join(broadcast(offs), "lang")
      .select(col("lang"), col("nl"), (col("rg") - col("off")).as("r"),
        col("quality"), col("doc_id"))
    val top = r.filter(col("r") <= expr("nl div 2"))
      .select(col("lang"), col("nl"), col("r"),
        (col("nl") - col("r") + 1L).as("partner"),
        col("quality").as("q_hi"), col("doc_id").as("chosen"))
    val bot = r.select(col("lang").as("lang2"), col("r").as("pr"),
      col("quality").as("q_lo"), col("doc_id").as("rejected"))
    val pairs = top.join(bot,
        col("lang") === col("lang2") && col("partner") === col("pr"))
      .select(col("lang"), col("nl"),
        round(col("q_hi") - col("q_lo"), 9).cast("decimal(12,9)")
          .as("gap"))
    pairs.groupBy(col("lang"))
      .agg(max(col("nl")).as("n_docs"), count(lit(1)).as("n_pairs"),
        sum(col("gap")).as("gsum"),
        sum(when(col("gap") >= 0.1, 1L).otherwise(0L)).as("ge_010"),
        sum(when(col("gap") >= 0.2, 1L).otherwise(0L)).as("ge_020"),
        sum(when(col("gap") >= 0.4, 1L).otherwise(0L)).as("ge_040"))
      .select(col("lang"), col("n_docs"), col("n_pairs"),
        r6(col("gsum").cast("double") / col("n_pairs").cast("double"))
          .as("mean_gap"),
        col("ge_010"), col("ge_020"), col("ge_040"))
      .orderBy("lang")
  }

  val q428Sql: String =
    """WITH m AS (
      |  SELECT doc_id, lang,
      |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+'))
      |         END AS INTEGER) AS n_tokens,
      |    CAST(length(text) AS INTEGER) AS n_chars,
      |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                              t -> t IN ('the', 'a')))
      |         END AS INTEGER) AS n_stop
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id, lang,
      |    least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.4
      |      + (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
      |      + least(1.0, CAST(n_chars AS DOUBLE) / 500.0) * 0.3
      |      AS quality
      |  FROM m),
      |r AS (
      |  SELECT lang, doc_id, quality,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY quality DESC, doc_id) AS r,
      |    COUNT(*) OVER (PARTITION BY lang) AS nl
      |  FROM scored),
      |pairs AS (
      |  SELECT t.lang, t.nl,
      |    CAST(round(t.quality - b.quality, 9) AS DECIMAL(12,9)) AS gap
      |  FROM r t JOIN r b
      |    ON t.lang = b.lang AND b.r = t.nl - t.r + 1
      |  WHERE t.r <= t.nl // 2)
      |SELECT lang, CAST(MAX(nl) AS BIGINT) AS n_docs,
      |  COUNT(*) AS n_pairs,
      |  round(CAST(SUM(gap) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
      |    + 0.0 AS mean_gap,
      |  CAST(SUM(CASE WHEN gap >= 0.1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS ge_010,
      |  CAST(SUM(CASE WHEN gap >= 0.2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS ge_020,
      |  CAST(SUM(CASE WHEN gap >= 0.4 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS ge_040
      |FROM pairs GROUP BY lang ORDER BY lang""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q428_preference_pairs", q428PreferencePairs _, q428Sql),
    Query("q343_kendall_tau", q343KendallTau _, q343Sql),
    Query("q344_cliff_delta", q344CliffDelta _, q344Sql))
}
