package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.ExactMath.r6

/** PII detection + redaction — the scrubbing stage every production
  * training-data pipeline runs before anything else touches the text
  * (extension scope: the reference has no text operators at all).
  *
  * The operator finds emails and URLs with conservative ASCII regexes
  * (identical semantics in Java regex and DuckDB's RE2 — the q31
  * compatibility class), counts them, and rewrites the text with
  * `<EMAIL>` / `<URL>` placeholders. The fixture corpus has a 31-word
  * vocabulary with no real PII, so — exactly like the q19/q22 clone
  * injection — PII is INJECTED deterministically (every 7th doc gains an
  * email, every 11th a URL, both derived from doc_id) so both engines
  * derive the same corpus and the whole detect→redact→report path is
  * oracle-checked.
  *
  * Scale posture: everything here is a per-row codegen'd projection
  * (regexp_extract_all / regexp_replace) followed by one map-side-combinable
  * hash aggregate on `source` — no shuffle beyond the 5-group rollup, runs
  * at scan speed at any corpus size.
  */
object ScrubQueries {

  /** Conservative ASCII email/URL patterns — every construct (literal
    * classes, +, {2,}) behaves identically in Java regex and RE2. */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val UrlRe = "https?://[a-z0-9./-]+"

  /** documents with deterministically injected PII (mirrored in SQL by
    * [[corpusPiiSql]]). */
  def corpusWithPii(spark: SparkSession, dir: String): DataFrame =
    Kpis.table(spark, dir, "documents")
      .withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com now")))
          .otherwise(col("text")))
      .withColumn("text",
        when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" see https://site"),
            (col("doc_id") % 5).cast("string"), lit(".example/page ok")))
          .otherwise(col("text")))

  private val corpusPiiSql =
    """SELECT doc_id, source,
      |  CASE WHEN doc_id % 11 = 0
      |       THEN base || ' see https://site' || (doc_id % 5) || '.example/page ok'
      |       ELSE base END AS text
      |FROM (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 7 = 0
      |         THEN text || ' contact user' || doc_id || '@example.com now'
      |         ELSE text END AS base
      |  FROM documents)""".stripMargin

  private def redact(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"),
      UrlRe, "<URL>")

  // ---------------------------------------------------------------- q51
  /** Per-source PII report over the injected corpus: doc counts, hit
    * counts, match totals, and the exact character delta removed by
    * redaction. Integer totals plus one exact int/int division keep the
    * entry bit-exact cross-engine. */
  def q51PiiScrub(spark: SparkSession, dir: String): DataFrame =
    corpusWithPii(spark, dir)
      .withColumn("n_emails",
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))))
      .withColumn("n_urls",
        size(regexp_extract_all(col("text"), lit(UrlRe), lit(0))))
      .withColumn("redacted", redact(col("text")))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum((col("n_emails") > 0).cast("int")).as("docs_with_email"),
        sum((col("n_urls") > 0).cast("int")).as("docs_with_url"),
        sum(col("n_emails")).as("total_emails"),
        sum(col("n_urls")).as("total_urls"),
        sum(length(col("text")) - length(col("redacted")))
          .as("chars_removed"),
        (sum(((col("n_emails") > 0) || (col("n_urls") > 0)).cast("int"))
          .cast("double") / count(lit(1))).as("pii_doc_rate"))
      .orderBy("source")

  val q51Sql: String =
    s"""WITH corpus AS ($corpusPiiSql),
       |m AS (
       |  SELECT source,
       |    len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
       |    len(regexp_extract_all(text, '$UrlRe')) AS n_urls,
       |    length(text)
       |      - length(regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
       |                              '$UrlRe', '<URL>', 'g')) AS delta
       |  FROM corpus)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN n_emails > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
       |  CAST(SUM(CASE WHEN n_urls > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_url,
       |  CAST(SUM(n_emails) AS BIGINT) AS total_emails,
       |  CAST(SUM(n_urls) AS BIGINT) AS total_urls,
       |  CAST(SUM(delta) AS BIGINT) AS chars_removed,
       |  CAST(SUM(CASE WHEN n_emails > 0 OR n_urls > 0 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*) AS pii_doc_rate
       |FROM m GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q311
  /** k-anonymity / l-diversity audit of the customer table under the
    * quasi-identifier (nation, account-balance band): the privacy
    * check a data-release pipeline runs AFTER q51's direct-identifier
    * redaction, because redaction alone does not stop re-identification
    * — a customer unique on (nation, balance band) is re-identifiable
    * from background knowledge, and a small group that all share one
    * market segment leaks the "sensitive" attribute even without
    * re-identification (the homogeneity attack l-diversity counts).
    * Emits the k-band census (how many customers sit in QI groups of
    * size 1 / 2–4 / 5–19 / 20+) with the summary columns a release gate
    * reads: share of re-identifiable customers (k < 5), minimum
    * l-diversity, and the share of groups with l < 3.
    *
    * The balance band is VALUE-based (floor(acctbal/1000) — a stable
    * generalization level, shuffle-free and unchanged by corpus
    * growth), not a quantile, exactly like a real release policy's
    * generalization hierarchy.
    *
    * Exactness: every count is integer; shares are single divisions;
    * the band edges compare exact integers.
    *
    * Scale shape: one QI-keyed map-combinable agg (count +
    * count-distinct-sensitive), then a ≤|QI-domain| census rollup with
    * 1-row broadcast summaries. */
  def q311KAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val groups = Kpis.table(spark, dir, "customer")
      .select(col("c_nationkey"),
        floor(col("c_acctbal") / lit(1000.0)).cast("long").as("band"),
        col("c_mktsegment"))
      .groupBy(col("c_nationkey"), col("band"))
      .agg(count(lit(1)).as("k"),
        countDistinct(col("c_mktsegment")).as("l"))
    val kband = when(col("k") === 1, "1_unique")
      .when(col("k") < 5, "2_small(2-4)")
      .when(col("k") < 20, "3_mid(5-19)")
      .otherwise("4_large(20+)")
    val summary = groups.agg(
      count(lit(1)).as("n_groups"),
      sum(col("k")).as("n_customers"),
      sum(when(col("k") < 5, col("k")).otherwise(0L)).as("reident"),
      min(col("l")).as("min_l"),
      sum(when(col("l") < 3, 1L).otherwise(0L)).as("low_l_groups"))
    groups.groupBy(kband.as("k_band"))
      .agg(count(lit(1)).as("n_groups_band"),
        sum(col("k")).as("n_customers_band"))
      .crossJoin(broadcast(summary))
      .select(col("k_band"), col("n_groups_band"), col("n_customers_band"),
        (col("n_customers_band").cast("double") /
          col("n_customers").cast("double")).as("customer_share"),
        (col("reident").cast("double") / col("n_customers").cast("double"))
          .as("reidentifiable_share"),
        col("min_l"),
        (col("low_l_groups").cast("double") / col("n_groups").cast("double"))
          .as("low_diversity_group_share"))
      .orderBy("k_band")
  }

  val q311Sql: String =
    """WITH g AS (
      |  SELECT c_nationkey,
      |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band,
      |    COUNT(*) AS k,
      |    CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l
      |  FROM customer GROUP BY 1, 2),
      |s AS (
      |  SELECT COUNT(*) AS n_groups, CAST(SUM(k) AS BIGINT) AS n_customers,
      |    CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
      |      AS reident,
      |    MIN(l) AS min_l,
      |    CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS low_l_groups
      |  FROM g),
      |b AS (
      |  SELECT CASE WHEN k = 1 THEN '1_unique'
      |    WHEN k < 5 THEN '2_small(2-4)'
      |    WHEN k < 20 THEN '3_mid(5-19)'
      |    ELSE '4_large(20+)' END AS k_band,
      |    COUNT(*) AS n_groups_band, CAST(SUM(k) AS BIGINT)
      |      AS n_customers_band
      |  FROM g GROUP BY 1)
      |SELECT k_band, n_groups_band, n_customers_band,
      |  CAST(n_customers_band AS DOUBLE) / CAST(n_customers AS DOUBLE)
      |    AS customer_share,
      |  CAST(reident AS DOUBLE) / CAST(n_customers AS DOUBLE)
      |    AS reidentifiable_share,
      |  min_l,
      |  CAST(low_l_groups AS DOUBLE) / CAST(n_groups AS DOUBLE)
      |    AS low_diversity_group_share
      |FROM b, s ORDER BY k_band""".stripMargin

  // --------------------------------------------------------------- q380
  /** Right-to-be-forgotten deletion-cost audit — the operational HALF
    * of the privacy family (q51 redacts content, q311 certifies the
    * release; this prices the DELETE): for a replayable md5-selected
    * victim cohort (~0.5% of customers), the rows that must go from
    * each table of the star, the ship-month partitions those rows
    * touch, and the REWRITE AMPLIFICATION — immutable columnar files
    * mean deleting one row rewrites its whole partition, so cost =
    * rows-in-touched-partitions / rows-deleted, the number that decides
    * between eager rewrites, deletion-vector sidecars, and
    * tombstone-then-compact (q340/q359's machinery downstream).
    *
    * Exactness: ALL-integer counts off keyed joins; amplification is
    * one int/int division snapped at 6 dp.
    *
    * Scale shape: victims are a broadcast key set; orders and lineitems
    * filter via keyed semi-joins (linear); partition touch counts are
    * month censuses; one map-combinable rollup each. */
  def q380DeletionCost(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5Hash60
    val victims = Kpis.table(spark, dir, "customer")
      .select(col("c_custkey"))
      .filter(pmod(md5Hash60(concat(lit("forget:"),
        col("c_custkey").cast("string"))), lit(200L)) === 7L)
    val vOrders = Kpis.table(spark, dir, "orders")
      .join(broadcast(victims), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"))
    val li = Kpis.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), trunc(col("l_shipdate"), "MM").as("mon"))
    val vLines = li.join(vOrders, col("l_orderkey") === col("o_orderkey"))
    val touched = broadcast(vLines.select(col("mon")).distinct())
    val monthRows = li.groupBy(col("mon")).agg(count(lit(1)).as("mrows"))
    val touchedRows = monthRows.join(touched, "mon")
      .agg(coalesce(sum(col("mrows")), lit(0L)).as("rows_touched"),
        count(lit(1)).as("months_touched"))
    val counts = victims.agg(count(lit(1)).as("n_victims"))
      .crossJoin(broadcast(vOrders.agg(count(lit(1)).as("n_orders"))))
      .crossJoin(broadcast(vLines.agg(count(lit(1)).as("n_lineitems"))))
      .crossJoin(broadcast(
        monthRows.agg(count(lit(1)).as("months_total"))))
      .crossJoin(broadcast(touchedRows))
    counts.select(col("n_victims"), col("n_orders"), col("n_lineitems"),
      col("months_touched"), col("months_total"), col("rows_touched"),
      when(col("n_lineitems") === 0L, lit(0.0))
        .otherwise(round(col("rows_touched").cast("double") /
          col("n_lineitems").cast("double"), 6) + lit(0.0))
        .as("rewrite_amplification"))
  }

  val q380Sql: String = {
    import graft.functions.TextFunctions.md5Hash60Sql
    val h = md5Hash60Sql("'forget:' || CAST(c_custkey AS VARCHAR)")
    s"""WITH victims AS (
      |  SELECT c_custkey FROM customer WHERE ($h) % 200 = 7),
      |vo AS (
      |  SELECT o_orderkey FROM orders
      |  JOIN victims ON o_custkey = c_custkey),
      |li AS (
      |  SELECT l_orderkey, date_trunc('month', l_shipdate) AS mon
      |  FROM lineitem),
      |vl AS (SELECT li.* FROM li JOIN vo ON l_orderkey = o_orderkey),
      |touched AS (SELECT DISTINCT mon FROM vl),
      |mr AS (SELECT mon, COUNT(*) AS mrows FROM li GROUP BY 1),
      |tr AS (
      |  SELECT CAST(COALESCE(SUM(mrows), 0) AS BIGINT) AS rows_touched,
      |    COUNT(*) AS months_touched
      |  FROM mr JOIN touched USING (mon)),
      |c AS (
      |  SELECT (SELECT COUNT(*) FROM victims) AS n_victims,
      |    (SELECT COUNT(*) FROM vo) AS n_orders,
      |    (SELECT COUNT(*) FROM vl) AS n_lineitems,
      |    (SELECT months_touched FROM tr) AS months_touched,
      |    (SELECT COUNT(*) FROM mr) AS months_total,
      |    (SELECT rows_touched FROM tr) AS rows_touched)
      |SELECT n_victims, n_orders, n_lineitems, months_touched,
      |  months_total, rows_touched,
      |  CASE WHEN n_lineitems = 0 THEN 0.0
      |       ELSE round(CAST(rows_touched AS DOUBLE)
      |         / CAST(n_lineitems AS DOUBLE), 6) + 0.0
      |  END AS rewrite_amplification
      |FROM c""".stripMargin
  }

  // --------------------------------------------------------------- q405
  /** User-contribution clipping audit — the PREPROCESSING decision table
    * for user-level differentially-private aggregation (the Dwork-style
    * sensitivity bound; DP-SGD and DP analytics both require it): before
    * noise can be calibrated, each user's contribution to every (day)
    * cell must be capped at a bound C, and the bound trades BIAS (events
    * discarded above the cap) against SENSITIVITY (the noise scale is
    * proportional to C). For C ∈ {1,2,4,8,16}: events kept after
    * per-(user, day) clipping, the kept share (the bias side), user-days
    * clipped (how many cells the cap actually touches), and the
    * unclipped max contribution (what the sensitivity would be with NO
    * bound — the number that makes the case for clipping at all).
    * A privacy engineer reads the elbow straight off the five rows.
    *
    * Exactness: the (user, day) contribution census is exact integer
    * counts; every per-bound column is an integer sum of min/indicator
    * terms; the two shares are each ONE 6-dp-snapped division.
    *
    * Scale shape: ONE fact-scale map-combinable (user, day) groupBy —
    * the only data-scale shuffle — then ONE aggregate carrying all five
    * bounds' conditional sums (the q382/q395 one-pass-sweep discipline)
    * and a 5-row stack of the 1-row result. No window, no join. */
  def q405ContributionClipping(spark: SparkSession, dir: String): DataFrame = {
    val bounds = Seq(1L, 2L, 4L, 8L, 16L)
    val ud = Kpis.eventsTable(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val exprs = Seq(count(lit(1)).as("n_user_days"),
        max(col("c")).as("max_contrib"),
        sum(col("c")).as("total_events")) ++
      bounds.flatMap(b => Seq(
        sum(least(col("c"), lit(b))).as(s"kept_$b"),
        sum(when(col("c") > b, 1L).otherwise(0L)).as(s"cl_$b")))
    val a = ud.agg(exprs.head, exprs.tail: _*)
    a.select(col("n_user_days"), col("max_contrib"), col("total_events"),
        expr(s"stack(${bounds.length}, " + bounds.map(b =>
          s"${b}L, kept_$b, cl_$b").mkString(", ") +
          ") as (clip_bound, kept_events, clipped_user_days)"))
      .select(col("clip_bound"), col("n_user_days"), col("max_contrib"),
        col("total_events"), col("kept_events"),
        r6(col("kept_events").cast("double") /
          col("total_events").cast("double")).as("kept_share"),
        col("clipped_user_days"),
        r6(col("clipped_user_days").cast("double") /
          col("n_user_days").cast("double")).as("clipped_share"))
      .orderBy("clip_bound")
  }

  val q405Sql: String =
    """WITH ud AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |cb(clip_bound) AS (
      |  VALUES (CAST(1 AS BIGINT)), (2), (4), (8), (16)),
      |per AS (
      |  SELECT b.clip_bound,
      |    COUNT(*) AS n_user_days,
      |    CAST(MAX(c) AS BIGINT) AS max_contrib,
      |    CAST(SUM(c) AS BIGINT) AS total_events,
      |    CAST(SUM(LEAST(c, b.clip_bound)) AS BIGINT) AS kept_events,
      |    CAST(SUM(CASE WHEN c > b.clip_bound THEN 1 ELSE 0 END)
      |      AS BIGINT) AS clipped_user_days
      |  FROM ud CROSS JOIN cb b GROUP BY 1)
      |SELECT clip_bound, n_user_days, max_contrib, total_events,
      |  kept_events,
      |  round(CAST(kept_events AS DOUBLE)
      |    / CAST(total_events AS DOUBLE), 6) + 0.0 AS kept_share,
      |  clipped_user_days,
      |  round(CAST(clipped_user_days AS DOUBLE)
      |    / CAST(n_user_days AS DOUBLE), 6) + 0.0 AS clipped_share
      |FROM per ORDER BY clip_bound""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q311_k_anonymity", q311KAnonymity _, q311Sql),
    Query("q380_deletion_cost", q380DeletionCost _, q380Sql),
    Query("q405_contribution_clipping", q405ContributionClipping _, q405Sql),
    Query("q51_pii_scrub", q51PiiScrub _, q51Sql))
}
