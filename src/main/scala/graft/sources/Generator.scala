package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.TextFunctions.{md5Hash60, md5Hash60Sql}

/** Synthetic sales generator (reference `dags/src/generator.py:7-43`,
  * SURVEY §2.1 S14): n rows with a surrogate key, a uniform datetime in
  * 2024, `CUST-[1000,9999]`, `PROD-[100,999]`, quantity 1–20, and
  * `amount = U(10,500) × quantity` rounded to 2 dp.
  *
  * Spark-first shape: `spark.range(n)` is an embarrassingly-parallel
  * distributed source — no driver-side loop, no collection; at any n the
  * rows materialize directly in executor partitions. The uniform streams
  * are HASH-derived (md5 of `g<seed>:<stream>:<row id>` → 60-bit int /
  * 2^60), not seeded `rand()` columns: a pure function of the row id is
  * reproducible independent of partition layout and cluster size (seeded
  * rand() is a function of partition index + offset, which forced a fixed
  * partition count), and it replays exactly in DuckDB — which is what
  * makes q30 oracle-checkable. (The reference uses unseeded `random`;
  * determinism is strictly more useful for tests.) `withUuid = true`
  * swaps the surrogate key for real `uuid()` strings (matching
  * `generator.py:17`) at the cost of determinism.
  */
object Generator {

  private val SecondsIn2024 = 366L * 24 * 3600 // leap year
  private val Epoch2024 =
    java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
  private val TwoPow60 = 1152921504606846976.0 // 2^60, exact as a double

  /** Uniform [0,1) stream `k`: the 60-bit md5 hash of "g<seed>:<k>:<id>"
    * scaled by 2^60. Bit-identical in DuckDB ([[uSql]]): both engines
    * round the same 60-bit integer to the same double and divide by the
    * same power of two. */
  private def u(seed: Long, k: Int): Column =
    md5Hash60(concat(lit(s"g$seed:$k:"), col("id").cast("string")))
      .cast("double") / lit(TwoPow60)

  /** DuckDB spelling of [[u]] for row-id expression `idExpr`. */
  private def uSql(seed: Long, k: Int, idExpr: String): String =
    s"${md5Hash60Sql(s"'g$seed:$k:' || $idExpr")} / $TwoPow60"

  def salesData(spark: SparkSession, n: Long = 1200L,
                seed: Long = 42L, withUuid: Boolean = false): DataFrame = {
    val id =
      if (withUuid) expr("uuid()")
      else concat(lit("S-"), lpad(col("id").cast("string"), 10, "0"))
    val qty = (floor(u(seed, 3) * 20) + 1).cast("int")
    spark.range(0, n).select(
      id.as("sale_id"),
      date_format(
        timestamp_seconds(
          lit(Epoch2024) + floor(u(seed, 0) * SecondsIn2024).cast("long")),
        "yyyy-MM-dd HH:mm:ss").as("sale_date"),
      concat(lit("CUST-"),
        (floor(u(seed, 1) * 9000) + 1000).cast("int")).as("customer_id"),
      concat(lit("PROD-"),
        (floor(u(seed, 2) * 900) + 100).cast("int")).as("product_id"),
      qty.as("quantity"),
      round((u(seed, 4) * 490 + 10) * qty, 2).as("amount"))
  }

  /** Registered entry (oracle-checked since round 6): generate → run
    * through the real clean + dedup path → aggregate, proving generator
    * output satisfies the ingest contract end-to-end. (`dir` is unused —
    * the generator IS the source.) */
  def q30SyntheticSales(spark: SparkSession, dir: String): DataFrame = {
    val cleaned = graft.ingest.Clean.cleanSales(
      salesData(spark, 1000L).select(
        col("sale_id"), col("sale_date"), col("customer_id"),
        col("product_id"),
        col("quantity").cast("string"), col("amount").cast("string")))
    cleaned
      .groupBy(substring(col("customer_id"), 6, 1).as("cust_prefix"))
      .agg(
        count(lit(1)).as("n_sales"),
        sum(col("quantity")).as("total_qty"),
        sum(col("amount").cast("decimal(18,4)")).cast("double").as("total_amount"))
      .orderBy("cust_prefix")
  }

  /** DuckDB replay of q30: the hash-derived uniform streams reproduce the
    * generator's values exactly, and on well-formed generator output
    * (unique non-null keys, parseable numerics) the clean + dedup stage is
    * the identity — its adversarial cases are oracle-checked separately by
    * q17 — so the oracle replays generator → aggregate. Doubles: the
    * round-tripped amount parses back to the identical double (shortest
    * representation), and round(x, 2) picks the same cent on both engines
    * except within ~1 ulp of a half-cent boundary (the q33-rounding class
    * of risk, certified per-run by the gate). */
  val q30Sql: String = {
    val seed = 42L
    s"""WITH g AS (SELECT i FROM range(0, 1000) t(i)),
       |vals AS (
       |  SELECT
       |    (floor(${uSql(seed, 1, "i")} * 9000) + 1000)::INTEGER AS cust,
       |    (floor(${uSql(seed, 3, "i")} * 20) + 1)::INTEGER AS quantity,
       |    round((${uSql(seed, 4, "i")} * 490 + 10)
       |          * ((floor(${uSql(seed, 3, "i")} * 20) + 1)::INTEGER), 2)
       |      AS amount
       |  FROM g)
       |SELECT substr(cust::VARCHAR, 1, 1) AS cust_prefix,
       |  COUNT(*) AS n_sales,
       |  CAST(SUM(quantity) AS BIGINT) AS total_qty,
       |  CAST(SUM(CAST(amount AS DECIMAL(18,4))) AS DOUBLE) AS total_amount
       |FROM vals GROUP BY cust_prefix ORDER BY cust_prefix""".stripMargin
  }

  def queries: Seq[Query] = Seq(
    Query("q30_synthetic_sales", q30SyntheticSales _, q30Sql))
}
