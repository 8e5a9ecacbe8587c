package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.queries.Kpis

/** Per-column statistical profiler — the Deequ/ANALYZE-style "describe
  * this table" primitive a pipeline runs before trusting a new drop:
  * row/null/distinct counts plus min/max/mean per numeric column, one
  * output row per column. The reference's validators check shape and
  * parseability (dags/src/validator.py); this is the numeric profile
  * beside them.
  *
  * Scale shape: one aggregate PER COLUMN, unioned — each scan is pruned
  * to a single column (ReadSchema carries exactly one field), so total
  * I/O equals one full-width scan and the per-column plans parallelize
  * independently. COUNT(DISTINCT) stays exact (the profiler contract;
  * q41 holds the approx_count_distinct variant) and is per-column, so no
  * Expand blow-up. Mean follows the exact decimal-sum→double division
  * convention; min/max are exact value picks, no float-order jitter
  * anywhere.
  */
object ColumnProfile {

  /** Profile one numeric column: cast to DECIMAL(18,4) for the exact
    * mean; min/max emitted as double. */
  private def profileCol(df: DataFrame, c: String): DataFrame =
    df.select(col(c).cast("decimal(18,4)").as("v"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, lit(1L)).otherwise(lit(0L))).as("n_null"),
        countDistinct(col("v")).as("n_distinct"),
        min(col("v")).cast("double").as("min_v"),
        max(col("v")).cast("double").as("max_v"),
        (sum(col("v")).cast("double") /
          sum(when(col("v").isNull, lit(0L)).otherwise(lit(1L))
            ).cast("double")).as("mean_v"))
      .select(lit(c).as("column") +: Seq("n_rows", "n_null", "n_distinct",
        "min_v", "max_v", "mean_v").map(col): _*)

  def profile(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.map(profileCol(df, _)).reduce(_.unionAll(_))

  // ---------------------------------------------------------------- q82
  /** The four numeric lineitem measures profiled in one pass each. */
  def q82ColumnProfile(spark: SparkSession, dir: String): DataFrame =
    profile(Kpis.table(spark, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .orderBy("column")

  private def colSql(c: String): String =
    s"""SELECT '$c' AS "column", COUNT(*) AS n_rows,
       |  CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_null,
       |  COUNT(DISTINCT v) AS n_distinct,
       |  CAST(MIN(v) AS DOUBLE) AS min_v,
       |  CAST(MAX(v) AS DOUBLE) AS max_v,
       |  CAST(SUM(v) AS DOUBLE)
       |    / CAST(SUM(CASE WHEN v IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
       |    AS mean_v
       |FROM (SELECT CAST($c AS DECIMAL(18,4)) AS v FROM lineitem)""".stripMargin

  val q82Sql: String =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map(colSql).mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")

  def queries: Seq[Query] = Seq(
    Query("q82_column_profile", q82ColumnProfile _, q82Sql))
}
