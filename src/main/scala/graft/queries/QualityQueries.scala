package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.ExactMath.r6

/** Approximate functional-dependency discovery — the schema-level data
  * profiler that complements the value-level q82/q58 profiles: does
  * column A determine column B, and if not, how badly is the dependency
  * violated? The metric is the standard g3 error (Kivinen-Mannila): the
  * minimum fraction of rows that must be deleted for the FD to hold
  * exactly, i.e. 1 − (Σ per-lhs-group max rhs-value count) / N. A data
  * catalog runs exactly this sweep to propose keys, spot denormalization
  * drift, and flag dirty dimension columns.
  */
object QualityQueries {

  private case class Fd(table: String, lhs: String, rhs: String)

  /** The audited candidate set: one true FD (o_orderkey is a key, so
    * o_orderkey → o_orderpriority must come out g3 = 0 — the built-in
    * positive control, and exactly how an FD sweep DISCOVERS keys) and
    * four plausible-but-false dependencies whose violation mass is the
    * informative output. */
  private val candidates = Seq(
    Fd("orders", "o_orderkey", "o_orderpriority"),
    Fd("orders", "o_custkey", "o_orderpriority"),
    Fd("part", "p_brand", "p_type"),
    Fd("part", "p_type", "p_size"),
    Fd("customer", "c_nationkey", "c_mktsegment"))

  // --------------------------------------------------------------- q175
  /** g3 audit of the candidate FDs: per candidate, row count, number of
    * distinct lhs values, the violation count (rows outside their lhs
    * group's plurality rhs value), and the g3 error fraction.
    *
    * Exactness: violations and totals are exact BIGINT sums; g3_error is
    * one double division. The per-lhs plurality uses max(count) only —
    * no tie-break needed, because the VALUE attaining the max never
    * leaves the aggregate, only its count does.
    *
    * Scale shape: per candidate, two map-combinable hash aggs —
    * (lhs, rhs) counts, then per-lhs max/sum — and a final single-row
    * reduce; the widest intermediate is the (lhs, rhs) census, bounded
    * by the attribute domain product, not the row count. The four
    * branches scan three tables once each and union 4 summary rows.
    * Everything pipelines; nothing is quadratic in rows at any scale. */
  def q175FdAudit(spark: SparkSession, dir: String): DataFrame = {
    val parts = candidates.map { fd =>
      Kpis.table(spark, dir, fd.table)
        .select(col(fd.lhs).cast("string").as("l"),
          col(fd.rhs).cast("string").as("r"))
        .groupBy(col("l"), col("r")).agg(count(lit(1)).as("c"))
        .groupBy(col("l"))
        .agg(max(col("c")).as("keep"), sum(col("c")).as("n_l"))
        .agg(sum(col("n_l")).as("n_rows"),
          count(lit(1)).as("n_lhs_values"),
          sum(col("keep")).as("kept"))
        .select(
          lit(fd.table).as("table_name"),
          lit(fd.lhs).as("lhs"), lit(fd.rhs).as("rhs"),
          col("n_rows"), col("n_lhs_values"),
          (col("n_rows") - col("kept")).as("g3_violations"),
          ((col("n_rows") - col("kept")).cast("double") /
            col("n_rows").cast("double")).as("g3_error"))
    }
    parts.reduce(_ unionAll _).orderBy("table_name", "lhs")
  }

  val q175Sql: String = {
    def one(fd: Fd): String =
      s"""SELECT '${fd.table}' AS table_name, '${fd.lhs}' AS lhs,
        |  '${fd.rhs}' AS rhs,
        |  CAST(SUM(n_l) AS BIGINT) AS n_rows,
        |  COUNT(*) AS n_lhs_values,
        |  CAST(SUM(n_l) - SUM(keep) AS BIGINT) AS g3_violations,
        |  CAST(SUM(n_l) - SUM(keep) AS DOUBLE) / CAST(SUM(n_l) AS DOUBLE)
        |    AS g3_error
        |FROM (
        |  SELECT l, MAX(c) AS keep, SUM(c) AS n_l
        |  FROM (
        |    SELECT CAST(${fd.lhs} AS VARCHAR) AS l,
        |      CAST(${fd.rhs} AS VARCHAR) AS r, COUNT(*) AS c
        |    FROM ${fd.table} GROUP BY 1, 2)
        |  GROUP BY l)""".stripMargin
    candidates.map(one).mkString("", "\nUNION ALL\n", "\nORDER BY table_name, lhs")
  }

  // --------------------------------------------------------------- q309
  /** Composed data-health scorecard: five independent quality gates in
    * ONE query — referential orphans, null keys, exact-duplicate mass,
    * price-digit heaping, and daily-volume robust outliers — each
    * emitted as a (check, metric, threshold, pass) row. The composition
    * certificate for the DQ family the way q154 is for curation and
    * q275 for vector stores: the individual audits exist as their own
    * registered queries (q106/q218/q19/q284/q302 machinery); a
    * platform's nightly gate runs them as one job with one verdict
    * frame, and the `pass` booleans are what a pipeline's circuit
    * breaker reads. The outlier row literally REUSES the registered
    * q302 plan (operator composition, not reimplementation).
    *
    * Exactness: every metric is one division of exact integers;
    * thresholds are literals; `pass` compares identically-derived
    * doubles.
    *
    * Scale shape: five independent map-combinable aggregates (one
    * anti-join for orphans, key-domain censuses for heaping/outliers),
    * unioned as 1-row frames — nothing wider than its audited table's
    * single pass. */
  def q309DqScorecard(spark: SparkSession, dir: String): DataFrame = {
    def row(name: String, metric: org.apache.spark.sql.Column,
            basis: org.apache.spark.sql.Column, thr: Double)
            (df: DataFrame): DataFrame =
      df.select(lit(name).as("check_name"), basis.as("n_basis"),
        metric.as("metric"), lit(thr).as("threshold"),
        (metric <= lit(thr)).as("pass"))
    val li = Kpis.table(spark, dir, "lineitem").select(col("l_orderkey"))
    val orders = Kpis.table(spark, dir, "orders")
    val orphans = row("fk_orphan_lineitems",
      col("orphans").cast("double") / col("n").cast("double"),
      col("n"), 0.001)(
      li.join(orders.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("orphans"))
        .crossJoin(broadcast(li.agg(count(lit(1)).as("n")))))
    val nulls = row("null_order_keys",
      col("bad").cast("double") / col("n").cast("double"),
      col("n"), 0.001)(
      orders.agg(
        sum(when(col("o_custkey").isNull || col("o_orderdate").isNull, 1L)
          .otherwise(0L)).as("bad"),
        count(lit(1)).as("n")))
    val dups = row("exact_dup_docs",
      (col("n") - col("d")).cast("double") / col("n").cast("double"),
      col("n"), 0.01)(
      spark.read.parquet(s"$dir/documents.parquet")
        .agg(count(lit(1)).as("n"),
          countDistinct(md5(col("text"))).as("d")))
    val heap = row("cents_heaping_max_share",
      col("mx").cast("double") / col("n").cast("double"),
      col("n"), 0.05)(
      orders
        .groupBy((round(col("o_totalprice") * 100).cast("long") % 100L)
          .as("cents"))
        .agg(count(lit(1)).as("c"))
        .agg(max(col("c")).as("mx"), sum(col("c")).as("n")))
    val outliers = row("daily_volume_outliers",
      col("n_outliers").cast("double") / col("n_days").cast("double"),
      col("n_days"), 0.05)(
      StatsQueries.q302MadOutliers(spark, dir)
        .select(col("n_outliers"), col("n_days")))
    orphans.unionByName(nulls).unionByName(dups).unionByName(heap)
      .unionByName(outliers)
      .orderBy("check_name")
  }

  val q309Sql: String =
    s"""WITH orphan AS (
      |  SELECT COUNT(*) AS orphans FROM lineitem
      |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders
      |                           WHERE o_orderkey IS NOT NULL)),
      |lin AS (SELECT COUNT(*) AS n FROM lineitem),
      |nulls AS (
      |  SELECT CAST(SUM(CASE WHEN o_custkey IS NULL
      |        OR o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS bad,
      |    COUNT(*) AS n
      |  FROM orders),
      |dups AS (
      |  SELECT COUNT(*) AS n, COUNT(DISTINCT md5(text)) AS d
      |  FROM documents),
      |heap AS (
      |  SELECT CAST(MAX(c) AS BIGINT) AS mx, CAST(SUM(c) AS BIGINT) AS n
      |  FROM (SELECT COUNT(*) AS c FROM orders
      |        GROUP BY CAST(round(o_totalprice * 100) AS BIGINT) % 100)),
      |outl AS (
      |  SELECT n_outliers, n_days FROM (${"\n" +
        StatsQueries.q302Sql.linesIterator
          .map("        " + _).mkString("\n")}) q302)
      |SELECT 'cents_heaping_max_share' AS check_name, n AS n_basis,
      |  CAST(mx AS DOUBLE) / CAST(n AS DOUBLE) AS metric,
      |  CAST(0.05 AS DOUBLE) AS threshold,
      |  CAST(mx AS DOUBLE) / CAST(n AS DOUBLE) <= 0.05 AS pass
      |FROM heap
      |UNION ALL
      |SELECT 'daily_volume_outliers', n_days,
      |  CAST(n_outliers AS DOUBLE) / CAST(n_days AS DOUBLE), CAST(0.05 AS DOUBLE),
      |  CAST(n_outliers AS DOUBLE) / CAST(n_days AS DOUBLE) <= 0.05
      |FROM outl
      |UNION ALL
      |SELECT 'exact_dup_docs', n,
      |  CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE), CAST(0.01 AS DOUBLE),
      |  CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE) <= 0.01
      |FROM dups
      |UNION ALL
      |SELECT 'fk_orphan_lineitems', lin.n,
      |  CAST(orphans AS DOUBLE) / CAST(lin.n AS DOUBLE), CAST(0.001 AS DOUBLE),
      |  CAST(orphans AS DOUBLE) / CAST(lin.n AS DOUBLE) <= 0.001
      |FROM orphan, lin
      |UNION ALL
      |SELECT 'null_order_keys', n,
      |  CAST(bad AS DOUBLE) / CAST(n AS DOUBLE), CAST(0.001 AS DOUBLE),
      |  CAST(bad AS DOUBLE) / CAST(n AS DOUBLE) <= 0.001
      |FROM nulls
      |ORDER BY check_name""".stripMargin

  // --------------------------------------------------------------- q324
  /** Line-number contiguity audit: within an order, l_linenumber should
    * enumerate the lines 1..n with no duplicates and no holes — the
    * detail-table sequencing invariant every ERP extract is checked
    * against (a duplicate means a double-extracted line, a gap means a
    * dropped one; q221 reconciles AMOUNTS across header/detail, this
    * audits the SEQUENCE). Orders are classified into a 3-way census —
    * contiguous / has-duplicates / gapped (distinct but not 1..n) —
    * with order and line counts, share, and the worst (max) sequence
    * overrun max(linenumber) − n observed per class.
    *
    * Exactness: all-integer min/max/count/distinct per order; the share
    * is one closing double division.
    *
    * Scale shape: one map-combinable per-order agg off the scan, then a
    * 3-row census. No join, no window. */
  def q324LinenumAudit(spark: SparkSession, dir: String): DataFrame = {
    val po = Kpis.table(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"),
        min(col("l_linenumber")).as("mn"),
        max(col("l_linenumber")).as("mx"),
        countDistinct(col("l_linenumber")).as("d"))
    val cls = when(col("d") < col("n"), "1_duplicated")
      .when(col("mn") === 1 && col("mx") === col("n"), "0_contiguous")
      .otherwise("2_gapped")
    po.groupBy(cls.as("class"))
      .agg(count(lit(1)).as("n_orders"), sum(col("n")).as("n_lines"),
        max(col("mx") - col("n")).as("max_overrun"))
      .withColumn("n_total",
        sum(col("n_orders")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("class"), col("n_orders"), col("n_lines"),
        col("max_overrun"),
        (round(col("n_orders").cast("double") /
          col("n_total").cast("double"), 6) + lit(0.0)).as("share"))
      .orderBy("class")
  }

  val q324Sql: String =
    """WITH po AS (
      |  SELECT l_orderkey, COUNT(*) AS n,
      |    MIN(l_linenumber) AS mn, MAX(l_linenumber) AS mx,
      |    COUNT(DISTINCT l_linenumber) AS d
      |  FROM lineitem GROUP BY 1),
      |c AS (
      |  SELECT CASE WHEN d < n THEN '1_duplicated'
      |    WHEN mn = 1 AND mx = n THEN '0_contiguous'
      |    ELSE '2_gapped' END AS class, n, mx
      |  FROM po),
      |g AS (
      |  SELECT class, COUNT(*) AS n_orders,
      |    CAST(SUM(n) AS BIGINT) AS n_lines,
      |    CAST(MAX(mx - n) AS BIGINT) AS max_overrun
      |  FROM c GROUP BY 1),
      |m AS (SELECT *, SUM(n_orders) OVER () AS n_total FROM g)
      |SELECT class, n_orders, n_lines, max_overrun,
      |  round(CAST(n_orders AS DOUBLE) / CAST(n_total AS DOUBLE), 6) + 0.0
      |    AS share
      |FROM m ORDER BY class""".stripMargin

  // --------------------------------------------------------------- q378
  /** Referential-integrity census over the WHOLE foreign-key graph —
    * the schema-level companion to q175's FD audit and q218's rule
    * census: for each of the seven FK edges in the star schema, the
    * child row count, the ORPHAN count (children whose key matches no
    * parent — broken joins waiting to happen), and the CHILDLESS parent
    * count (parents no child references — informational: dead dimension
    * members a pruning compactor could archive). A warehouse runs
    * exactly this sweep after every load; at 100 TB an undetected
    * orphan edge silently drops rows from every inner join downstream.
    *
    * Exactness: ALL-integer counts off anti-join/distinct aggregates.
    *
    * Scale shape: per edge, one distinct-key collapse of the child side
    * (map-combinable) and one left-anti join each way — linear, AQE
    * broadcasts dimension key sets while they fit; the seven summaries
    * union to 7 rows. */
  /** One FK edge's integrity summary — shared by q378 and its spec's
    * adversarial fixtures. */
  private[graft] def fkEdge(name: String, child: DataFrame, ck: String,
      parent: DataFrame, pk: String): DataFrame = {
    val ckeys = child.select(col(ck).as("k"))
    val pkeys = parent.select(col(pk).as("k")).distinct()
    val orphans = ckeys.join(pkeys, Seq("k"), "left_anti")
      .agg(count(lit(1)).as("n_orphan_rows"))
    val childless = pkeys.join(ckeys.distinct(), Seq("k"), "left_anti")
      .agg(count(lit(1)).as("n_childless_parents"))
    ckeys.agg(count(lit(1)).as("n_child_rows"))
      .crossJoin(broadcast(pkeys.agg(count(lit(1)).as("n_parents"))))
      .crossJoin(broadcast(orphans))
      .crossJoin(broadcast(childless))
      .select(lit(name).as("fk_edge"), col("n_child_rows"),
        col("n_parents"), col("n_orphan_rows"),
        col("n_childless_parents"))
  }

  def q378FkIntegrity(spark: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, ck: String,
        parent: DataFrame, pk: String): DataFrame =
      fkEdge(name, child, ck, parent, pk)
    val t = (n: String) => Kpis.table(spark, dir, n)
    Seq(
      edge("1_lineitem_orders", t("lineitem"), "l_orderkey",
        t("orders"), "o_orderkey"),
      edge("2_lineitem_part", t("lineitem"), "l_partkey",
        t("part"), "p_partkey"),
      edge("3_lineitem_supplier", t("lineitem"), "l_suppkey",
        t("supplier"), "s_suppkey"),
      edge("4_orders_customer", t("orders"), "o_custkey",
        t("customer"), "c_custkey"),
      edge("5_customer_nation", t("customer"), "c_nationkey",
        t("nation"), "n_nationkey"),
      edge("6_supplier_nation", t("supplier"), "s_nationkey",
        t("nation"), "n_nationkey"),
      edge("7_nation_region", t("nation"), "n_regionkey",
        t("region"), "r_regionkey"))
      .reduce(_ unionAll _)
      .orderBy("fk_edge")
  }

  val q378Sql: String = {
    def edge(name: String, child: String, ck: String, parent: String,
        pk: String) =
      s"""SELECT '$name' AS fk_edge,
        |  (SELECT COUNT(*) FROM $child) AS n_child_rows,
        |  (SELECT COUNT(DISTINCT $pk) FROM $parent) AS n_parents,
        |  (SELECT COUNT(*) FROM $child c
        |   WHERE NOT EXISTS (SELECT 1 FROM $parent p
        |                     WHERE p.$pk = c.$ck)) AS n_orphan_rows,
        |  (SELECT COUNT(*) FROM (SELECT DISTINCT $pk AS k FROM $parent) p
        |   WHERE NOT EXISTS (SELECT 1 FROM $child c
        |                     WHERE c.$ck = p.k)) AS n_childless_parents"""
        .stripMargin
    Seq(
      edge("1_lineitem_orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      edge("2_lineitem_part", "lineitem", "l_partkey",
        "part", "p_partkey"),
      edge("3_lineitem_supplier", "lineitem", "l_suppkey",
        "supplier", "s_suppkey"),
      edge("4_orders_customer", "orders", "o_custkey",
        "customer", "c_custkey"),
      edge("5_customer_nation", "customer", "c_nationkey",
        "nation", "n_nationkey"),
      edge("6_supplier_nation", "supplier", "s_nationkey",
        "nation", "n_nationkey"),
      edge("7_nation_region", "nation", "n_regionkey",
        "region", "r_regionkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fk_edge")
  }

  // --------------------------------------------------------------- q381
  /** Schema-on-read audit of the semi-structured `props` column — the
    * JSON-payload profiling a pipeline runs before promoting an opaque
    * string column to typed storage: per event type, how many payloads
    * parse, how many are null/malformed, and the extracted field's
    * exact range/sum/cardinality (the evidence for "props.k is a dense
    * small integer — promote it to INT"). The Spark side uses the
    * native codegen'd JSON path (`get_json_object`, the engine
    * capability under test); the oracle replays the extraction with a
    * regex over the same fixture shape, so a hash match certifies the
    * JSON path recovered exactly the payload the generator wrote.
    *
    * Exactness: ALL-integer counts/min/max/sum over the extracted
    * BIGINTs.
    *
    * Scale shape: one narrow projection + one map-combinable per-type
    * aggregate; the census is |event types| rows. */
  def q381PropsSchemaAudit(spark: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("long")
    Kpis.eventsTable(spark, dir)
      .select(col("event_type"), k.as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_unparsed"),
        min(col("k")).as("k_min"), max(col("k")).as("k_max"),
        sum(col("k")).as("k_sum"),
        countDistinct(col("k")).as("n_distinct_k"))
      .orderBy("event_type")
  }

  val q381Sql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    TRY_CAST(NULLIF(regexp_extract(props, '"k": (-?\d+)', 1),
      |      '') AS BIGINT) AS k
      |  FROM events)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unparsed,
      |  MIN(k) AS k_min, MAX(k) AS k_max,
      |  CAST(SUM(k) AS BIGINT) AS k_sum,
      |  COUNT(DISTINCT k) AS n_distinct_k
      |FROM e GROUP BY 1 ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q398
  /** Filter-interaction (overlap) audit — the redundancy question every
    * multi-gate curation pipeline must answer before stacking filters:
    * does the perplexity gate drop the SAME documents the quality gate
    * already drops (stack it for free) or different ones (each gate
    * pays its own token price)? Joint 2×2 census per language of the
    * two REGISTERED gates at their registered operating points — q23's
    * composite quality at q154's floor (≥ 0.5) and q59's unigram NLL at
    * q391's middle cut (≤ 8.0) — with doc counts, token mass, and each
    * cell's share of its language. The (q_pass=false, nll_pass=false)
    * cell is the overlap; a pipeline reads redundancy straight off the
    * four cells.
    *
    * Exactness: both per-doc scores are the oracle-certified chains
    * (q23 bit-exact doubles, q59 6-dp-snapped), so the gate comparisons
    * agree across engines; counts/token sums are exact integers; the
    * share is ONE 6-dp-snapped division.
    *
    * Scale shape: two registered linear plans (q23 = one map pass;
    * q59 = vocab-bounded hash aggs + one equi-join) joined once on
    * doc_id, then a map-combinable (lang, 2×2) census; the per-lang
    * share window runs over the ≤ 4·|langs| census. */
  def q398FilterOverlap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = DocQueries.q23DocQuality(spark, dir)
      .select(col("doc_id"), col("quality"))
    val nll = graft.queries.LmQueries.q59UnigramNll(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("avg_nll"))
    val cells = nll.join(q, "doc_id")
      .select(col("lang"), col("n_tokens"),
        (col("quality") >= 0.5).as("q_pass"),
        (col("avg_nll") <= 8.0).as("nll_pass"))
      .groupBy(col("lang"), col("q_pass"), col("nll_pass"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("tokens"))
    cells
      .withColumn("doc_share",
        round(col("n_docs").cast("double") /
          sum(col("n_docs")).over(Window.partitionBy(col("lang")))
            .cast("double"), 6) + lit(0.0))
      .orderBy("lang", "q_pass", "nll_pass")
  }

  val q398Sql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |tok AS (
      |  SELECT doc_id, lang, len(toks) AS n_tokens, unnest(toks) AS token
      |  FROM d),
      |vocab AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
      |lp AS (
      |  SELECT token,
      |    round(ln(cnt::DOUBLE / (SELECT SUM(cnt) FROM vocab)), 9) AS lp
      |  FROM vocab),
      |nll AS (
      |  SELECT doc_id, lang, n_tokens, round(-avg(lp), 6) + 0.0 AS avg_nll
      |  FROM tok JOIN lp USING (token)
      |  GROUP BY doc_id, lang, n_tokens),
      |qm AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+'))
      |         END AS INTEGER) AS n_tokens,
      |    CAST(length(text) AS INTEGER) AS n_chars,
      |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                              t -> t IN ('the', 'a')))
      |         END AS INTEGER) AS n_stop
      |  FROM documents),
      |qual AS (
      |  SELECT doc_id,
      |    least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.4
      |      + (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
      |      + least(1.0, CAST(n_chars AS DOUBLE) / 500.0) * 0.3 AS quality
      |  FROM qm),
      |cells AS (
      |  SELECT n.lang, (q.quality >= 0.5) AS q_pass,
      |    (n.avg_nll <= 8.0) AS nll_pass,
      |    COUNT(*) AS n_docs, CAST(SUM(n.n_tokens) AS BIGINT) AS tokens
      |  FROM nll n JOIN qual q USING (doc_id)
      |  GROUP BY 1, 2, 3)
      |SELECT lang, q_pass, nll_pass, n_docs, tokens,
      |  round(CAST(n_docs AS DOUBLE)
      |    / CAST(SUM(n_docs) OVER (PARTITION BY lang) AS DOUBLE), 6) + 0.0
      |    AS doc_share
      |FROM cells ORDER BY lang, q_pass, nll_pass""".stripMargin

  // --------------------------------------------------------------- q424
  /** Joint-gate threshold grid — the 2-D tuning surface behind q398's
    * single operating point: the quality floor and the perplexity
    * ceiling are chosen TOGETHER (each gate's marginal cost depends on
    * where the other sits — q398 measures exactly that overlap), so
    * the decision artifact is the full grid: for quality floors
    * {0.4, 0.5, 0.6} × NLL ceilings {3.40, 3.41, 3.43} (the quartile
    * band of the measured per-doc NLL distribution — ceilings that
    * actually BITE, unlike a loose cut that passes everything), the
    * documents and
    * token mass surviving BOTH gates and their shares of the corpus.
    * The grid's center row prices the joint gate where both margins
    * are active; the eight neighbors price every one-step loosening
    * or tightening.
    *
    * Exactness: both per-doc scores are the oracle-certified chains
    * (q23 bit-exact doubles, q59 6-dp-snapped), so gate comparisons
    * agree across engines; counts and token sums are exact integers;
    * shares are single 6-dp-snapped divisions.
    *
    * Scale shape: the q398 plan — two registered linear scoring passes
    * joined once on doc_id — then ONE map-combinable aggregate
    * carrying all nine cells' conditional sums (the q382/q395
    * one-pass-sweep discipline) and a 9-row stack. */
  def q424GateGrid(spark: SparkSession, dir: String): DataFrame = {
    val qs = Seq(0.4, 0.5, 0.6)
    val ns = Seq(3.40, 3.41, 3.43)
    val q = DocQueries.q23DocQuality(spark, dir)
      .select(col("doc_id"), col("quality"))
    val nll = graft.queries.LmQueries.q59UnigramNll(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("avg_nll"))
    val joined = nll.join(q, "doc_id")
    val cells = for { qm <- qs; nm <- ns } yield (qm, nm)
    def tag(qm: Double, nm: Double): String =
      s"${(qm * 100).round}_${(nm * 100).round}"
    val exprs = Seq(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens")) ++
      cells.flatMap { case (qm, nm) =>
        val pass = col("quality") >= qm && col("avg_nll") <= nm
        Seq(sum(when(pass, 1L).otherwise(0L)).as(s"d_${tag(qm, nm)}"),
          sum(when(pass, col("n_tokens").cast("long")).otherwise(0L))
            .as(s"t_${tag(qm, nm)}"))
      }
    val a = joined.agg(exprs.head, exprs.tail: _*)
    a.select(col("n_docs"), col("total_tokens"), expr(
        s"stack(${cells.length}, " + cells.map { case (qm, nm) =>
          s"${qm}D, ${nm}D, d_${tag(qm, nm)}, t_${tag(qm, nm)}"
        }.mkString(", ") +
        ") as (quality_min, nll_max, kept_docs, kept_tokens)"))
      .select(col("quality_min"), col("nll_max"), col("n_docs"),
        col("kept_docs"),
        r6(col("kept_docs").cast("double") / col("n_docs").cast("double"))
          .as("doc_share"),
        col("kept_tokens"),
        r6(col("kept_tokens").cast("double") /
          col("total_tokens").cast("double")).as("token_share"))
      .orderBy("quality_min", "nll_max")
  }

  val q424Sql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+')
      |    AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |tok AS (
      |  SELECT doc_id, len(toks) AS n_tokens, unnest(toks) AS token
      |  FROM d),
      |vocab AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
      |lp AS (
      |  SELECT token,
      |    round(ln(cnt::DOUBLE / (SELECT SUM(cnt) FROM vocab)), 9) AS lp
      |  FROM vocab),
      |nll AS (
      |  SELECT doc_id, n_tokens, round(-avg(lp), 6) + 0.0 AS avg_nll
      |  FROM tok JOIN lp USING (token) GROUP BY doc_id, n_tokens),
      |qm AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+'))
      |         END AS INTEGER) AS n_tokens,
      |    CAST(length(text) AS INTEGER) AS n_chars,
      |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                              t -> t IN ('the', 'a')))
      |         END AS INTEGER) AS n_stop
      |  FROM documents),
      |qual AS (
      |  SELECT doc_id,
      |    least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.4
      |      + (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
      |      + least(1.0, CAST(n_chars AS DOUBLE) / 500.0) * 0.3 AS quality
      |  FROM qm),
      |j AS (
      |  SELECT n.doc_id, n.n_tokens, n.avg_nll, q.quality
      |  FROM nll n JOIN qual q USING (doc_id)),
      |grid(quality_min, nll_max) AS (VALUES
      |  (CAST(0.4 AS DOUBLE), CAST(3.40 AS DOUBLE)), (0.4, 3.41),
      |  (0.4, 3.43), (0.5, 3.40), (0.5, 3.41), (0.5, 3.43), (0.6, 3.40),
      |  (0.6, 3.41), (0.6, 3.43))
      |SELECT quality_min, nll_max, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN quality >= quality_min AND avg_nll <= nll_max
      |    THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
      |  round(CAST(SUM(CASE WHEN quality >= quality_min
      |      AND avg_nll <= nll_max THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS doc_share,
      |  CAST(SUM(CASE WHEN quality >= quality_min AND avg_nll <= nll_max
      |    THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
      |  round(CAST(SUM(CASE WHEN quality >= quality_min
      |      AND avg_nll <= nll_max THEN n_tokens ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(n_tokens) AS DOUBLE), 6) + 0.0 AS token_share
      |FROM j CROSS JOIN grid GROUP BY 1, 2
      |ORDER BY quality_min, nll_max""".stripMargin

  // --------------------------------------------------------------- q429
  /** Gate length-bias audit — WHO the quality gates reject, sliced by
    * document length: equal-count length deciles of the corpus, each
    * scored with both registered gates at the q424 operating points
    * (quality ≥ 0.5; NLL ≤ 3.41). The q23 composite is
    * length-increasing BY CONSTRUCTION (two of its three terms saturate
    * with length), so its pass rate climbing monotonically across the
    * deciles is not a bug but a designed bias this table makes visible
    * and quantifies — the number a curator needs before blaming short
    * documents for failing a gate that was never length-neutral. The
    * NLL gate's per-decile profile is the contrast: perplexity has no
    * built-in length term, so its column reads as the UNBIASED
    * baseline.
    *
    * Exactness: deciles come from integer arithmetic on the exact
    * (n_tokens, doc_id) global rank; pass counts are integers; shares
    * are single 6-dp-snapped divisions.
    *
    * Scale shape: the q398 scoring join, ONE RangeRank range shuffle
    * for the length order (eagerly materialized), a map-combinable
    * ≤ 10-row decile census. */
  def q429GateLengthBias(spark: SparkSession, dir: String): DataFrame = {
    val q = DocQueries.q23DocQuality(spark, dir)
      .select(col("doc_id"), col("quality"))
    val nll = graft.queries.LmQueries.q59UnigramNll(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("avg_nll"))
    val joined = nll.join(q, "doc_id")
    val ranked = graft.plans.Eager.ckpt(graft.operators.RangeRank
      .withGlobalRank(joined, "rk", Seq(col("n_tokens"), col("doc_id"))))
    val n = ranked.agg(count(lit(1))).head().getLong(0)
    ranked
      .groupBy((expr(s"((rk - 1) * 10) div $n") + 1L).as("length_decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        sum(when(col("quality") >= 0.5, 1L).otherwise(0L)).as("q_pass"),
        sum(when(col("avg_nll") <= 3.41, 1L).otherwise(0L))
          .as("nll_pass"))
      .select(col("length_decile"), col("n_docs"), col("min_tokens"),
        col("max_tokens"),
        r6(col("q_pass").cast("double") / col("n_docs").cast("double"))
          .as("quality_pass_share"),
        r6(col("nll_pass").cast("double") / col("n_docs").cast("double"))
          .as("nll_pass_share"))
      .orderBy("length_decile")
  }

  val q429Sql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+')
      |    AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |tok AS (
      |  SELECT doc_id, len(toks) AS n_tokens, unnest(toks) AS token
      |  FROM d),
      |vocab AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
      |lp AS (
      |  SELECT token,
      |    round(ln(cnt::DOUBLE / (SELECT SUM(cnt) FROM vocab)), 9) AS lp
      |  FROM vocab),
      |nll AS (
      |  SELECT doc_id, n_tokens, round(-avg(lp), 6) + 0.0 AS avg_nll
      |  FROM tok JOIN lp USING (token) GROUP BY doc_id, n_tokens),
      |qm AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+'))
      |         END AS INTEGER) AS n_tokens,
      |    CAST(length(text) AS INTEGER) AS n_chars,
      |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                              t -> t IN ('the', 'a')))
      |         END AS INTEGER) AS n_stop
      |  FROM documents),
      |qual AS (
      |  SELECT doc_id,
      |    least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.4
      |      + (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
      |      + least(1.0, CAST(n_chars AS DOUBLE) / 500.0) * 0.3 AS quality
      |  FROM qm),
      |j AS (
      |  SELECT n.doc_id, n.n_tokens, n.avg_nll, q.quality,
      |    row_number() OVER (ORDER BY n.n_tokens, n.doc_id) AS rk,
      |    COUNT(*) OVER () AS n
      |  FROM nll n JOIN qual q USING (doc_id))
      |SELECT ((rk - 1) * 10) // n + 1 AS length_decile,
      |  COUNT(*) AS n_docs,
      |  CAST(MIN(n_tokens) AS INTEGER) AS min_tokens,
      |  CAST(MAX(n_tokens) AS INTEGER) AS max_tokens,
      |  round(CAST(SUM(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END)
      |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) + 0.0
      |    AS quality_pass_share,
      |  round(CAST(SUM(CASE WHEN avg_nll <= 3.41 THEN 1 ELSE 0 END)
      |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) + 0.0
      |    AS nll_pass_share
      |FROM j GROUP BY 1 ORDER BY length_decile""".stripMargin

  // --------------------------------------------------------------- q431
  /** Per-language gate calibration equity — the fairness question a
    * single global threshold begs: the corpus unigram LM is dominated
    * by the largest language, so a global NLL ceiling passes its
    * documents more readily than the others'. Per language: the pass
    * rate under the GLOBAL q424 cut (≤ 3.41) vs the pass rate under a
    * per-language MEDIAN cut (each language judged against its own
    * distribution — the CCNet-style per-language calibration, which
    * pins every pass rate to ~50% by construction), the language's
    * exact median NLL (the calibrated cut a production gate would
    * ship), and the equity spread of each policy — max−min pass rate
    * across languages — as the headline comparison (asserted in spec:
    * calibration collapses the spread).
    *
    * Exactness: per-doc NLL is q59's 6-dp-snapped chain; the median is
    * the exact ⌈n/2⌉-th order statistic from one global RangeRank
    * lifted to per-lang ranks via the ≤ |langs| offset census (the
    * q428 discipline — never a per-lang window over doc-scale rows);
    * pass counts are integers; shares are single 6-dp divisions.
    *
    * Scale shape: q59's linear scoring pass, ONE RangeRank range
    * shuffle, a broadcast per-lang (offset, count, median) census
    * joined back, one map-combinable per-lang rollup. */
  def q431GateCalibration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nll = graft.queries.LmQueries.q59UnigramNll(spark, dir)
      .select(col("doc_id"), col("lang"), col("avg_nll"))
    val ranked = graft.plans.Eager.ckpt(graft.operators.RangeRank
      .withGlobalRank(nll, "rg",
        Seq(col("lang"), col("avg_nll"), col("doc_id"))))
    val offs = ranked.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
      .withColumn("off", coalesce(sum(col("nl")).over(
        Window.orderBy(col("lang"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val withR = ranked.join(broadcast(offs), "lang")
      .withColumn("r", col("rg") - col("off"))
    val medians = withR
      .filter(col("r") === expr("(nl + 1) div 2"))
      .select(col("lang"), col("avg_nll").as("lang_median"))
    withR.join(broadcast(medians), "lang")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("lang_median")).as("lang_median"),
        sum(when(col("avg_nll") <= 3.41, 1L).otherwise(0L))
          .as("global_pass"),
        sum(when(col("avg_nll") <= col("lang_median"), 1L).otherwise(0L))
          .as("calibrated_pass"))
      .select(col("lang"), col("n_docs"), col("lang_median"),
        r6(col("global_pass").cast("double") /
          col("n_docs").cast("double")).as("global_pass_share"),
        r6(col("calibrated_pass").cast("double") /
          col("n_docs").cast("double")).as("calibrated_pass_share"))
      .orderBy("lang")
  }

  val q431Sql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |tok AS (
      |  SELECT doc_id, lang, unnest(toks) AS token FROM d),
      |vocab AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
      |lp AS (
      |  SELECT token,
      |    round(ln(cnt::DOUBLE / (SELECT SUM(cnt) FROM vocab)), 9) AS lp
      |  FROM vocab),
      |nll AS (
      |  SELECT doc_id, lang, round(-avg(lp), 6) + 0.0 AS avg_nll
      |  FROM tok JOIN lp USING (token) GROUP BY doc_id, lang),
      |r AS (
      |  SELECT lang, doc_id, avg_nll,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY avg_nll, doc_id) AS r,
      |    COUNT(*) OVER (PARTITION BY lang) AS nl
      |  FROM nll),
      |med AS (
      |  SELECT lang, avg_nll AS lang_median FROM r
      |  WHERE r = (nl + 1) // 2)
      |SELECT r.lang, CAST(MAX(nl) AS BIGINT) AS n_docs,
      |  MAX(lang_median) AS lang_median,
      |  round(CAST(SUM(CASE WHEN avg_nll <= 3.41 THEN 1 ELSE 0 END)
      |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) + 0.0
      |    AS global_pass_share,
      |  round(CAST(SUM(CASE WHEN avg_nll <= lang_median
      |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
      |    + 0.0 AS calibrated_pass_share
      |FROM r JOIN med ON r.lang = med.lang
      |GROUP BY r.lang ORDER BY r.lang""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q431_gate_calibration", q431GateCalibration _, q431Sql),
    Query("q429_gate_length_bias", q429GateLengthBias _, q429Sql),
    Query("q424_gate_grid", q424GateGrid _, q424Sql),
    Query("q324_linenum_audit", q324LinenumAudit _, q324Sql),
    Query("q309_dq_scorecard", q309DqScorecard _, q309Sql),
    Query("q378_fk_integrity", q378FkIntegrity _, q378Sql),
    Query("q381_props_schema_audit", q381PropsSchemaAudit _, q381Sql),
    Query("q398_filter_overlap", q398FilterOverlap _, q398Sql),
    Query("q175_fd_audit", q175FdAudit _, q175Sql))
}
