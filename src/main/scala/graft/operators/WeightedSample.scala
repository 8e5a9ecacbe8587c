package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.TextFunctions.{md5Hash60, md5Hash60Sql}
import graft.queries.Kpis

/** Weighted sampling without replacement via Efraimidis–Spirakis
  * exponential keys (A-ES): each row gets score ln(u)/w with u a
  * deterministic md5-derived uniform and w its weight; the k rows with
  * the LARGEST scores are a bona-fide weighted sample without
  * replacement. The curation counterpart of [[ConsistentSample]]'s
  * uniform hash-gate — quality-weighted corpus subsetting, importance
  * sampling for eval sets.
  *
  * Scale shape: one scan computing a per-row score, then top-k — which
  * lowers to TakeOrderedAndProject (per-partition heaps, one k-row
  * merge on the driver), NOT a global sort; nothing shuffles but k rows
  * per partition. Deterministic and replayable: u comes from
  * [[md5Hash60]] of the row key (not rand()), so the same corpus always
  * yields the same sample and the DuckDB twin replays it bit-exactly.
  */
object WeightedSample {

  /** ln(u)/w, u = (md5_60(key)+0.5)/2^60 ∈ (0,1) strictly. Rounded to
    * 9 dp (the per-element ln grid) so ranking and output agree
    * cross-engine. Maximizing ln(u)/w ⟺ maximizing u^(1/w): the A-ES
    * key, monotone-transformed.
    *
    * The trailing `+ 0.0` normalizes IEEE negative zero: a score in
    * (-5e-10, 0) rounds to zero, which Spark's BigDecimal-backed round
    * emits as +0.0 while DuckDB's ROUND keeps the sign bit (-0.0) —
    * value-equal but byte-hash-distinct. `-0.0 + 0.0 = +0.0` on both
    * engines, so both sides carry the normalization. */
  def aesScore(key: Column, weight: Column): Column =
    round(
      log((md5Hash60(key).cast("double") + lit(0.5)) /
        lit(1152921504606846976.0)) / weight.cast("double"), 9) + lit(0.0)

  /** DuckDB spelling of [[aesScore]] over SQL expressions. */
  def aesScoreSql(keyE: String, weightE: String): String =
    s"""ROUND(LN((CAST(${md5Hash60Sql(keyE)} AS DOUBLE) + 0.5)
       |  / 1152921504606846976.0) / CAST($weightE AS DOUBLE), 9) + 0.0""".stripMargin

  /** The k rows with the largest [[aesScore]]; ties (p ≈ 2^-60) break on
    * the key so the sample is a total function of the corpus.
    * PRECONDITION: weights must be strictly positive (the A-ES key
    * ln(u)/w flips sign at w < 0 and degenerates at 0 — standard for the
    * algorithm; filter or clamp upstream if a weight column can be
    * non-positive).
    * OUTPUT CONTRACT: adds the reserved column `aes_score` (part of the
    * q79 result schema); a caller column of that name is replaced. */
  def sampleByWeight(df: DataFrame, key: Column, weight: Column,
                     k: Int): DataFrame =
    df.withColumn("aes_score", aesScore(key, weight))
      .orderBy(col("aes_score").desc, key)
      .limit(k)

  // ---------------------------------------------------------------- q79
  /** 20 orders sampled with probability proportional to o_totalprice —
    * the "pick eval orders, favoring big ones, reproducibly" shape. */
  def q79WeightedSample(spark: SparkSession, dir: String): DataFrame =
    sampleByWeight(
      Kpis.table(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice")),
      key = col("o_orderkey").cast("string"),
      weight = col("o_totalprice"), k = 20)
      .select(col("o_orderkey"), col("o_totalprice"), col("aes_score"))

  val q79Sql: String =
    s"""SELECT o_orderkey, o_totalprice,
       |  ${aesScoreSql("CAST(o_orderkey AS VARCHAR)", "o_totalprice")}
       |    AS aes_score
       |FROM orders
       |ORDER BY aes_score DESC, CAST(o_orderkey AS VARCHAR)
       |LIMIT 20""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q79_weighted_sample", q79WeightedSample _, q79Sql))
}
