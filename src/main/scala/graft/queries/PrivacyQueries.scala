package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query

/** Privacy-release operators — what a training-data pipeline runs before
  * SHIPPING a dataset derived from user records (the reference's customer
  * table is the natural subject): k-anonymity accounting over a
  * quasi-identifier generalization ladder (Sweeney 2002, public).
  */
object PrivacyQueries {

  /** The k-grid every census row is evaluated at. */
  private val Ks = Seq(2, 5, 10)
  /** The l-grid of the diversity census. */
  private val Ls = Seq(2, 3, 5)

  // ---------------------------------------------------------------- q448
  /** k-anonymity suppression census over a 3-level quasi-identifier
    * generalization ladder on `customer`: level 0 = (nation, segment,
    * account-balance band of 1000), level 1 = (nation, segment), level 2 =
    * (segment). Per (level, k ∈ {2, 5, 10}): equivalence-class counts,
    * class-size extrema, and the rows a k-anonymous release must SUPPRESS
    * (members of classes smaller than k) — the
    * generalization-vs-suppression trade-off a release decision actually
    * reads (coarser QI → fewer suppressed rows → less utility per row).
    *
    * Exactness: class sizes and suppression counts are integers; the
    * balance band is floor(acctbal / 1000) — one IEEE divide + floor,
    * spelled identically on both engines; the only output double is the
    * 6-dp-snapped suppressed fraction.
    *
    * Scale shape: one map-side-combinable agg per ladder level over the
    * same scan (three passes of a skinny projection — at 100 TB a single
    * grouping-sets pass is the obvious fusion, kept separate here for the
    * ladder's clarity since the scan dominates either way); the k-grid is
    * a constant 3-way explode of the CLASS table (already collapsed);
    * the final census is 9 rows. No windows, no joins. */
  def q448KAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val cust = Kpis.table(spark, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
    def classes(level: Int, qi: Seq[Column]): DataFrame =
      cust.groupBy(qi: _*).agg(count(lit(1)).as("cnt"))
        .select(lit(level).as("level"), col("cnt"))
    val cls =
      classes(0, Seq(col("c_nationkey"), col("c_mktsegment"), col("bal_band")))
        .unionAll(classes(1, Seq(col("c_nationkey"), col("c_mktsegment"))))
        .unionAll(classes(2, Seq(col("c_mktsegment"))))
    cls.select(col("level"), col("cnt"),
        explode(typedLit(Ks)).as("k"))
      .groupBy(col("level"), col("k"))
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("cnt") >= col("k"), 1L).otherwise(0L))
          .as("surviving_classes"),
        min(col("cnt")).as("min_class"),
        max(col("cnt")).as("max_class"),
        sum(when(col("cnt") < col("k"), col("cnt")).otherwise(0L))
          .as("suppressed_rows"),
        sum(col("cnt")).as("total_rows"))
      .select(col("level"), col("k"), col("n_classes"),
        col("surviving_classes"), col("min_class"), col("max_class"),
        col("suppressed_rows"),
        (col("total_rows") - col("suppressed_rows")).as("kept_rows"),
        (round(col("suppressed_rows").cast("double") /
          col("total_rows").cast("double"), 6) + lit(0.0))
          .as("suppressed_frac"))
      .orderBy("level", "k")
  }

  val q448Sql: String = {
    val kList = Ks.mkString(", ")
    s"""WITH c AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
      |  FROM customer),
      |cls AS (
      |  SELECT 0 AS level, COUNT(*) AS cnt
      |  FROM c GROUP BY c_nationkey, c_mktsegment, bal_band
      |  UNION ALL
      |  SELECT 1 AS level, COUNT(*) AS cnt
      |  FROM c GROUP BY c_nationkey, c_mktsegment
      |  UNION ALL
      |  SELECT 2 AS level, COUNT(*) AS cnt FROM c GROUP BY c_mktsegment),
      |grid AS (
      |  SELECT level, cnt, unnest([$kList]) AS k FROM cls)
      |SELECT level, k,
      |  CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  CAST(SUM(CASE WHEN cnt >= k THEN 1 ELSE 0 END) AS BIGINT)
      |    AS surviving_classes,
      |  CAST(MIN(cnt) AS BIGINT) AS min_class,
      |  CAST(MAX(cnt) AS BIGINT) AS max_class,
      |  CAST(SUM(CASE WHEN cnt < k THEN cnt ELSE 0 END) AS BIGINT)
      |    AS suppressed_rows,
      |  CAST(SUM(cnt) - SUM(CASE WHEN cnt < k THEN cnt ELSE 0 END) AS BIGINT)
      |    AS kept_rows,
      |  round(CAST(SUM(CASE WHEN cnt < k THEN cnt ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(cnt) AS DOUBLE), 6) + 0.0 AS suppressed_frac
      |FROM grid GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- q453
  /** l-diversity census (Machanavajjhala et al. 2007, public) — the gap
    * k-anonymity leaves open: an equivalence class can be large yet
    * reveal everyone's SENSITIVE value when all members share it. Over
    * q448's generalization ladder with the balance band as the sensitive
    * attribute (levels 1 and 2 only — level 0 carries the band inside
    * the QI, where diversity is trivially 1), per (level, l ∈ {2, 3, 5}):
    * classes whose distinct-sensitive-value count falls below l, the
    * rows EXPOSED by them, and the class-diversity extrema — read beside
    * q448, the release decision's second axis.
    *
    * Exactness: distinct counts and row counts are integers; the only
    * double is the 6-dp-snapped exposed fraction.
    *
    * Scale shape: one agg per ladder level computing (rows,
    * distinct-sensitive) per class — countDistinct expands to the
    * standard two-stage partial plan, both map-side-combinable; the
    * l-grid explodes the already-collapsed class table; 6 output rows. */
  def q453LDiversity(spark: SparkSession, dir: String): DataFrame = {
    val cust = Kpis.table(spark, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
    def classes(level: Int, qi: Seq[Column]): DataFrame =
      cust.groupBy(qi: _*)
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("bal_band")).as("ndist"))
        .select(lit(level).as("level"), col("cnt"), col("ndist"))
    val cls = classes(1, Seq(col("c_nationkey"), col("c_mktsegment")))
      .unionAll(classes(2, Seq(col("c_mktsegment"))))
    cls.select(col("level"), col("cnt"), col("ndist"),
        explode(typedLit(Ls)).as("l"))
      .groupBy(col("level"), col("l"))
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("ndist") < col("l"), 1L).otherwise(0L))
          .as("failing_classes"),
        min(col("ndist")).as("min_diversity"),
        max(col("ndist")).as("max_diversity"),
        sum(when(col("ndist") < col("l"), col("cnt")).otherwise(0L))
          .as("exposed_rows"),
        sum(col("cnt")).as("total_rows"))
      .select(col("level"), col("l"), col("n_classes"),
        col("failing_classes"), col("min_diversity"),
        col("max_diversity"), col("exposed_rows"),
        (round(col("exposed_rows").cast("double") /
          col("total_rows").cast("double"), 6) + lit(0.0))
          .as("exposed_frac"))
      .orderBy("level", "l")
  }

  val q453Sql: String =
    s"""WITH c AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
      |  FROM customer),
      |cls AS (
      |  SELECT 1 AS level, COUNT(*) AS cnt,
      |    COUNT(DISTINCT bal_band) AS ndist
      |  FROM c GROUP BY c_nationkey, c_mktsegment
      |  UNION ALL
      |  SELECT 2 AS level, COUNT(*) AS cnt,
      |    COUNT(DISTINCT bal_band) AS ndist
      |  FROM c GROUP BY c_mktsegment),
      |grid AS (SELECT level, cnt, ndist, unnest([${Ls.mkString(", ")}]) AS l
      |  FROM cls)
      |SELECT level, l,
      |  CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  CAST(SUM(CASE WHEN ndist < l THEN 1 ELSE 0 END) AS BIGINT)
      |    AS failing_classes,
      |  CAST(MIN(ndist) AS BIGINT) AS min_diversity,
      |  CAST(MAX(ndist) AS BIGINT) AS max_diversity,
      |  CAST(SUM(CASE WHEN ndist < l THEN cnt ELSE 0 END) AS BIGINT)
      |    AS exposed_rows,
      |  round(CAST(SUM(CASE WHEN ndist < l THEN cnt ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(cnt) AS DOUBLE), 6) + 0.0 AS exposed_frac
      |FROM grid GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------- maps
  def queries: Seq[Query] = Seq(
    Query("q448_k_anonymity", q448KAnonymity _, q448Sql),
    Query("q453_l_diversity", q453LDiversity _, q453Sql))
}
