package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query

/** Skew mitigation by key salting: the standard two-stage rewrite for
  * aggregations whose key distribution is pathological (one key holding a
  * large fraction of all rows ⇒ one reducer task holding the job hostage).
  *
  * Stage 1 groups on (key, salt) — the hot key's rows spread over
  * `saltBuckets` tasks and combine map-side; stage 2 merges the ≤
  * `saltBuckets` partial rows per key. Total shuffle volume grows by at
  * most a factor of buckets on the PARTIAL rows (tiny), while the max
  * task size shrinks by the same factor on the raw rows (huge).
  *
  * Note Spark's hash aggregate already does partial+final combining, which
  * handles most groupBy skew on its own; explicit salting earns its keep
  * for high-cardinality-payload aggregations (collect_list/distinct-heavy)
  * and as the building block of salted JOINS (replicate the small side per
  * salt). AQE's skew-join handling covers the sort-merge-join case at
  * runtime; this utility is the plan-level tool.
  */
object Salting {

  /** Collision-proof working-column name (see [[Cols.fresh]]). */
  private def freshCol(base: String, dfs: DataFrame*): String =
    Cols.fresh(base, dfs: _*)

  /** Two-stage salted sum/count aggregation: returns one row per key with
    * `sum(valueCol)` and `count(*)`, computed via (key, salt) partials.
    * Deterministic: the salt is a hash of stable columns, not rand(). */
  def saltedSumCount(df: DataFrame, keyCol: String, valueCol: String,
                     saltCol: Column, saltBuckets: Int): DataFrame = {
    val salt = freshCol("_salt", df)
    val salted = df.withColumn(salt,
      pmod(hash(saltCol), lit(saltBuckets)))
    salted
      .groupBy(col(keyCol), col(salt))
      .agg(sum(col(valueCol)).as("_psum"), count(lit(1)).as("_pcnt"))
      .groupBy(col(keyCol))
      .agg(sum(col("_psum")).as(s"sum_$valueCol"),
        sum(col("_pcnt")).as("n_rows"))
  }

  /** Salted equi-join for a skewed BIG side: the big side gets a
    * deterministic salt from stable non-key columns, the small side is
    * replicated once per salt bucket, and the join key becomes
    * (key, salt) — so a key holding 30% of all rows spreads over
    * `saltBuckets` reducer tasks instead of hostaging one. Inner-join
    * semantics are preserved exactly: every big row carries ONE salt and
    * meets each matching small row exactly once (the small side has every
    * salt). Cost: small-side volume × buckets — the right trade whenever
    * the small side is dimension-sized.
    *
    * When to reach for this — MEASURED (sf0.1, local[32],
    * BENCH_NOTES_r09): a broadcastable dim makes salting strictly
    * overhead (plain AQE join 0.74 s vs salted 0.95 s); with broadcast
    * forbidden, plain SMJ + AQE still wins (0.84 vs 0.90 s) even though
    * AQE's skew split doesn't fire below its 256 MB partition threshold —
    * the salted plan pays 16× dim replication for skew the downstream
    * partial agg absorbs anyway. Salting's regime is therefore: no
    * broadcast possible AND AQE cannot rewrite the join (cached/reused
    * exchanges, non-SMJ strategies, static plans), or payloads AQE can't
    * split (collect_list/distinct-heavy aggregation). q63 stays registered
    * on the salted plan as the rewrite's correctness certification — its
    * oracle is the PLAIN join, so the hash match proves the rewrite
    * changes the plan, not the result.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keyCol: String,
                 saltCol: Column, saltBuckets: Int): DataFrame = {
    val salt = freshCol("_salt", big, small)
    val b = big.withColumn(salt, pmod(hash(saltCol), lit(saltBuckets)))
    val s = small.withColumn(salt,
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    b.join(s, Seq(keyCol, salt)).drop(salt)
  }

  /** q43: the salted rewrite on a genuinely pathological distribution —
    * lineitem grouped by `l_returnflag` (3 distinct keys over every row, so
    * a plain final aggregate lands ~1/3 of the table on each of THREE
    * reducer tasks no matter how many cores exist). The salt spreads each
    * key over 32 buckets; stage 2 merges ≤32 partial rows per key.
    *
    * Values are summed as DECIMAL(18,4) so the two-stage regroup is exact
    * (decimal addition is associative; a double sum would hash-diverge from
    * the oracle under regrouping), then cast to double for the output —
    * the same parity convention as Kpis q1/q7.
    */
  def queries: Seq[Query] = Seq(
    Query("q43_salted_sum",
      ((spark: SparkSession, dir: String) => {
        val li = spark.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_returnflag"),
            col("l_quantity").cast("decimal(18,4)").as("qty"),
            col("l_orderkey"), col("l_linenumber"))
        saltedSumCount(li, "l_returnflag", "qty",
            struct(col("l_orderkey"), col("l_linenumber")), saltBuckets = 32)
          .select(col("l_returnflag"),
            col("sum_qty").cast("double").as("sum_qty"),
            col("n_rows"))
          .orderBy("l_returnflag")
      }),
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q63_salted_join", q63SaltedJoin _,
      """WITH li AS (
        |  SELECT CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE l_suppkey END AS suppkey,
        |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS rev
        |  FROM lineitem)
        |SELECT s_suppkey AS suppkey, s_name,
        |  CAST(SUM(rev) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM li JOIN supplier ON li.suppkey = s_suppkey
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin),
    Query("q65_skew_profile", q65SkewProfile _,
      """WITH counts AS (
        |  SELECT CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE l_suppkey END AS suppkey,
        |    COUNT(*) AS n
        |  FROM lineitem GROUP BY 1),
        |totals AS (SELECT SUM(n) AS total, COUNT(*) AS n_keys FROM counts)
        |SELECT suppkey, n,
        |  CAST(n AS DOUBLE) / total AS share,
        |  CAST(n * n_keys AS DOUBLE) / total AS hot_factor
        |FROM counts, totals
        |ORDER BY n DESC, suppkey LIMIT 5""".stripMargin))

  /** q65: key-distribution profiler — the diagnostic you run BEFORE
    * reaching for [[saltedJoin]]/[[saltedSumCount]]: per-key row counts
    * reduced to the top-5 hot keys with their share of all rows and a
    * hot_factor (multiple of the mean key load; 1.0 = perfectly uniform).
    * Run against q63's synthetic skew so the fixture demonstrably trips
    * the alarm. Shape: one map-side-combined count agg, one 1-row totals
    * broadcast, top-k via TakeOrderedAndProject — nothing scales with
    * input volume except the first agg. */
  def q65SkewProfile(spark: SparkSession, dir: String): DataFrame = {
    val keyed = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(when(col("l_orderkey") % 3 === 0, lit(1L))
        .otherwise(col("l_suppkey")).as("suppkey"))
    val counts = keyed.groupBy(col("suppkey")).agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum(col("n")).as("total"),
      count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(totals))
      .select(col("suppkey"), col("n"),
        (col("n").cast("double") / col("total")).as("share"),
        ((col("n") * col("n_keys")).cast("double") / col("total"))
          .as("hot_factor"))
      .orderBy(col("n").desc, col("suppkey"))
      .limit(5)
  }

  /** q63: salted join under synthetic skew — every 3rd lineitem is
    * remapped to supplier 1 (~33% of the fact table on one key), then
    * joined to the supplier dim through [[saltedJoin]] with 16 buckets
    * and aggregated to per-supplier revenue. The oracle is the PLAIN
    * join+group — certifying the rewrite changes the plan, not the
    * result. Revenue follows the exact decimal-sum→double convention. */
  def q63SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(
        when(col("l_orderkey") % 3 === 0, lit(1L))
          .otherwise(col("l_suppkey")).as("suppkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)").as("rev"),
        col("l_orderkey"), col("l_linenumber"))
    val sup = spark.read.parquet(s"$dir/supplier.parquet")
      .select(col("s_suppkey").as("suppkey"), col("s_name"))
    saltedJoin(li, sup, "suppkey",
        struct(col("l_orderkey"), col("l_linenumber")), saltBuckets = 16)
      .groupBy(col("suppkey"), col("s_name"))
      .agg(sum(col("rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("suppkey")
  }
}
