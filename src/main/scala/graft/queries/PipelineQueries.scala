package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.ingest.Clean

/** Oracle-checked query entries for the ingest operators (SURVEY §1.3, §2.4;
  * reference `dags/src/processor.py:44-81`).
  *
  * The correctness gate runs DuckDB SQL over the same parquet tables, so the
  * pipeline operators are exercised by deriving a deterministic DIRTY
  * sales-shaped frame from `orders` — nulls, literal "nan"s, unparseable
  * dates, non-numeric quantities, "2.5" truncation cases, stray whitespace,
  * duplicate keys — with the identical derivation written in both Spark and
  * DuckDB SQL, then applying the real [[graft.ingest.Clean]] transforms on
  * the Spark side and their relational definition on the oracle side.
  */
object PipelineQueries {

  /** Deterministic dirty frame (Spark side). Every branch keyed off
    * o_orderkey modulo so both engines derive bit-identical inputs. */
  def dirtySales(spark: SparkSession, dir: String): DataFrame = {
    val o = Kpis.table(spark, dir, "orders")
    val k = col("o_orderkey")
    o.select(
      when(k % 97 === 0, lit(null))
        .when(k % 89 === 0, lit("nan"))
        .otherwise(concat(lit("  S-"), (k % 1200).cast("string"), lit("  ")))
        .as("sale_id"),
      when(k % 7 === 0, lit("not-a-date"))
        .when(k % 7 === 1, lit(null))
        .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
        .as("sale_date"),
      when(k % 11 === 0, lit("nan"))
        .otherwise(concat(lit("  CUST-"), (col("o_custkey") % 100).cast("string")))
        .as("customer_id"),
      when(k % 13 === 0, lit(null))
        .otherwise(concat(lit("PROD-"), (k % 50).cast("string")))
        .as("product_id"),
      when(k % 5 === 0, lit("x"))
        .when(k % 5 === 1, lit("2.5"))
        .when(k % 5 === 2, lit(null))
        .otherwise((k % 9).cast("string"))
        .as("quantity"),
      when(k % 4 === 0, lit("bad"))
        .when(k % 4 === 1, lit(null))
        .otherwise(concat((k % 500).cast("string"), lit(".25")))
        .as("amount"))
  }

  /** Shared dirty-frame derivation (DuckDB side), bit-identical to
    * [[dirtySales]]. */
  private val dirtySql: String =
    """SELECT
      |  CASE WHEN o_orderkey % 97 = 0 THEN NULL
      |       WHEN o_orderkey % 89 = 0 THEN 'nan'
      |       ELSE '  S-' || CAST(o_orderkey % 1200 AS VARCHAR) || '  ' END AS sale_id,
      |  CASE WHEN o_orderkey % 7 = 0 THEN 'not-a-date'
      |       WHEN o_orderkey % 7 = 1 THEN NULL
      |       ELSE strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') END AS sale_date,
      |  CASE WHEN o_orderkey % 11 = 0 THEN 'nan'
      |       ELSE '  CUST-' || CAST(o_custkey % 100 AS VARCHAR) END AS customer_id,
      |  CASE WHEN o_orderkey % 13 = 0 THEN NULL
      |       ELSE 'PROD-' || CAST(o_orderkey % 50 AS VARCHAR) END AS product_id,
      |  CASE WHEN o_orderkey % 5 = 0 THEN 'x'
      |       WHEN o_orderkey % 5 = 1 THEN '2.5'
      |       WHEN o_orderkey % 5 = 2 THEN NULL
      |       ELSE CAST(o_orderkey % 9 AS VARCHAR) END AS quantity,
      |  CASE WHEN o_orderkey % 4 = 0 THEN 'bad'
      |       WHEN o_orderkey % 4 = 1 THEN NULL
      |       ELSE CAST(o_orderkey % 500 AS VARCHAR) || '.25' END AS amount
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------- q17
  /** cleanSales over the dirty frame, dedup disabled so every coercion rule
    * is visible row-by-row (dedup gets its own entry, q18). sale_date emitted
    * as a formatted string: Spark dumps µs timestamps, DuckDB reads ms
    * parquet — units would differ in the dtype check. */
  def q17CleanSales(spark: SparkSession, dir: String): DataFrame =
    Clean.cleanSales(dirtySales(spark, dir), dedup = false)
      .withColumn("sale_date",
        date_format(col("sale_date"), "yyyy-MM-dd HH:mm:ss"))
      .orderBy(
        col("sale_id").asc,
        col("sale_date").asc_nulls_first,
        col("customer_id").asc_nulls_first,
        col("product_id").asc_nulls_first,
        col("quantity").asc,
        col("amount").asc)

  val q17Sql: String =
    s"""WITH dirty AS ($dirtySql),
      |cleaned AS (
      |  SELECT
      |    NULLIF(TRIM(sale_id), 'nan') AS sale_id,
      |    strftime(try_strptime(NULLIF(TRIM(sale_date), 'nan'), '%Y-%m-%d %H:%M:%S'),
      |             '%Y-%m-%d %H:%M:%S') AS sale_date,
      |    NULLIF(TRIM(customer_id), 'nan') AS customer_id,
      |    NULLIF(TRIM(product_id), 'nan') AS product_id,
      |    CAST(COALESCE(CAST(TRUNC(TRY_CAST(NULLIF(TRIM(quantity), 'nan') AS DOUBLE)) AS INTEGER), 1) AS INTEGER) AS quantity,
      |    COALESCE(TRY_CAST(NULLIF(TRIM(amount), 'nan') AS DOUBLE), 0.0) AS amount
      |  FROM dirty)
      |SELECT * FROM cleaned WHERE sale_id IS NOT NULL
      |ORDER BY sale_id ASC, sale_date ASC NULLS FIRST, customer_id ASC NULLS FIRST,
      |         product_id ASC NULLS FIRST, quantity ASC, amount ASC""".stripMargin

  // ---------------------------------------------------------------- q18
  /** Dedup-by-key-keep-latest (SURVEY §2.4, the reference's one
    * aggregation-family operator) with an explicit deterministic ingest-order
    * tiebreak. Keys repeat ~21× at sf0.01 (o_orderkey % 701); one in six
    * rows has a NULL date, which must LOSE to any real date. */
  def q18DedupLatest(spark: SparkSession, dir: String): DataFrame = {
    val o = Kpis.table(spark, dir, "orders")
    val k = col("o_orderkey")
    val d = o.select(
      concat(lit("K-"), (k % 701).cast("string")).as("sale_id"),
      when(k % 6 === 0, lit(null).cast("timestamp"))
        .otherwise(col("o_orderdate")).as("sale_date"),
      k.as("ingest_order"),
      col("o_custkey").as("customer_ref"),
      col("o_totalprice").as("amount"))
    Clean.dedupLatest(d, tiebreak = "ingest_order")
      .withColumn("sale_date",
        date_format(col("sale_date"), "yyyy-MM-dd HH:mm:ss"))
      .orderBy("sale_id")
  }

  val q18Sql: String =
    """WITH d AS (
      |  SELECT 'K-' || CAST(o_orderkey % 701 AS VARCHAR) AS sale_id,
      |    CASE WHEN o_orderkey % 6 = 0 THEN NULL ELSE o_orderdate END AS sale_date,
      |    o_orderkey AS ingest_order,
      |    o_custkey AS customer_ref,
      |    o_totalprice AS amount
      |  FROM orders),
      |r AS (SELECT *, row_number() OVER (
      |        PARTITION BY sale_id
      |        ORDER BY sale_date DESC NULLS LAST, ingest_order DESC) AS rn
      |      FROM d)
      |SELECT sale_id, strftime(sale_date, '%Y-%m-%d %H:%M:%S') AS sale_date,
      |       ingest_order, customer_ref, amount
      |FROM r WHERE rn = 1 ORDER BY sale_id""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q17_clean_sales", q17CleanSales _, q17Sql),
    Query("q18_dedup_latest", q18DedupLatest _, q18Sql))
}
