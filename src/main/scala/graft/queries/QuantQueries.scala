package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.VectorFunctions._

/** Scalar (int8) quantization for the embedding column — the 4×
  * compression every 100 TB vector pipeline applies before its ANN
  * stages ship bytes around: per-vector symmetric quantization
  * (scale = max|x|/127, elements rounded to [-127, 127]) built from the
  * [[graft.functions.VectorFunctions.quantize8]]/[[graft.functions.VectorFunctions.dequantize8]]
  * built-ins. q163 is the RECALL CERTIFICATION for that compression —
  * the same sketch-vs-exact discipline as q117 (quantile sketch) and
  * q26 (LSH banding): run top-k retrieval on the dequantized vectors,
  * compare against exact top-k, and report per-probe recall plus the
  * worst cosine error, all replayed bit-exactly by the DuckDB twin.
  */
object QuantQueries {

  private val Dim = 64
  private val K = 5

  // --------------------------------------------------------------- q163
  /** SQ8 retrieval recall: for every 50th vector as a probe, rank the
    * corpus by cosine over DEQUANTIZED int8 vectors AND by exact cosine
    * in one pair stream, then report per probe how many of the SQ8
    * top-5 are in the exact top-5 (recall@5) and the worst
    * |sq8_cos − exact_cos| across the SQ8 top-5. Both rankings ride the
    * SAME window partitioning (one shuffle, two rank columns), so the
    * overlap count is a row-local predicate, not a self-join.
    *
    * Scale shape: the probe slice is broadcast and the corpus streams
    * (the q21 brute-force convention — corpus-side broadcast would ship
    * the whole collection); the certification cost is |probes|·N pairs,
    * a fixture-scale audit of a production path whose candidate
    * generation is IVF/LSH (q28/q33/q66) over quantized codes. The
    * quantization itself is all built-ins (transform/round/cast) —
    * codegen'd, shuffle-free, and 4× lighter on the wire than floats,
    * which is the entire point at 100 TB.
    *
    * Exactness: scale derives from float max|x| cast once to double;
    * quantize rounds half-away-from-zero in both engines; dequantized
    * elements round through FLOAT exactly as Spark's cast does; the
    * cosine folds are the left-associated [[dotD]] convention — every
    * rank and error term is bit-identical in the twin. */
  def q163Sq8Recall(spark: SparkSession, dir: String): DataFrame = {
    val scale = quantizeScale(col("embedding"))
    val e = Kpis.table(spark, dir, "embeddings")
      .withColumn("dq",
        dequantize8(quantize8(col("embedding"), scale), scale))
      .select(col("vec_id"), col("embedding"), col("dq"),
        norm2(col("embedding")).as("n2"), norm2(col("dq")).as("n2q"))
    // probe slice is CAPPED to the deterministic certification ids (the
    // q26/q50 convention): vec_id < 2000 covers every fixture scale
    // factor, while on a larger corpus (ScaleStress clones at 10^12-offset
    // ids) the probe count — and with it the |probes|·N pair stream —
    // stays FIXED instead of growing with N (which would make the cert
    // quadratic in corpus size)
    val q = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000)
      .select(col("vec_id").as("probe_id"), col("embedding").as("qe"),
        col("dq").as("qdq"), col("n2").as("qn2"), col("n2q").as("qn2q"))
    val pairs = e.crossJoin(broadcast(q))
      .filter(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"),
        (dotD(col("qdq"), col("dq")) /
          (sqrt(col("qn2q")) * sqrt(col("n2q")))).as("sq8_cos"),
        (dotD(col("qe"), col("embedding")) /
          (sqrt(col("qn2")) * sqrt(col("n2")))).as("exact_cos"))
    val byProbe = Window.partitionBy(col("probe_id"))
    val rdq = row_number().over(
      byProbe.orderBy(col("sq8_cos").desc, col("vec_id")))
    val rex = row_number().over(
      byProbe.orderBy(col("exact_cos").desc, col("vec_id")))
    pairs
      .select(col("probe_id"), col("sq8_cos"), col("exact_cos"),
        rdq.as("rank_sq8"), rex.as("rank_exact"))
      .filter(col("rank_sq8") <= K || col("rank_exact") <= K)
      .groupBy(col("probe_id"))
      .agg(
        sum(when(col("rank_sq8") <= K && col("rank_exact") <= K, 1L)
          .otherwise(0L)).as("n_common"),
        max(when(col("rank_sq8") <= K,
          abs(col("sq8_cos") - col("exact_cos")))).as("max_abs_cos_err"))
      .withColumn("recall5", col("n_common").cast("double") / K)
      .select(col("probe_id"), col("n_common"), col("recall5"),
        col("max_abs_cos_err"))
      .orderBy("probe_id")
  }

  val q163Sql: String = {
    val dqElem =
      "CAST(CAST(CAST(round(CAST(x AS DOUBLE) / scale) AS TINYINT) AS DOUBLE)" +
        " * scale AS FLOAT)"
    val dotDq = dotSqlUnrolled("c.dq", "q.dq", Dim)
    val dotEx = dotSqlUnrolled("c.embedding", "q.embedding", Dim)
    val n2dq = dotSqlUnrolled("dq", "dq", Dim)
    val n2ex = dotSqlUnrolled("embedding", "embedding", Dim)
    s"""WITH sc AS (
      |  SELECT vec_id, embedding,
      |    CAST(GREATEST(list_max(list_transform(embedding, x -> abs(x))),
      |      CAST(1e-12 AS FLOAT)) AS DOUBLE) / 127.0 AS scale
      |  FROM embeddings),
      |e AS MATERIALIZED (
      |  SELECT vec_id, embedding,
      |    list_transform(embedding, x -> $dqElem) AS dq
      |  FROM sc),
      |n AS MATERIALIZED (
      |  SELECT vec_id, embedding, dq,
      |    $n2ex AS n2, $n2dq AS n2q
      |  FROM e),
      |p AS (
      |  SELECT q.vec_id AS probe_id, c.vec_id,
      |    ($dotDq) / (sqrt(q.n2q) * sqrt(c.n2q)) AS sq8_cos,
      |    ($dotEx) / (sqrt(q.n2) * sqrt(c.n2)) AS exact_cos
      |  FROM n c, n q
      |  WHERE q.vec_id % 50 = 0 AND q.vec_id < 2000
      |    AND c.vec_id <> q.vec_id),
      |r AS (
      |  SELECT probe_id, sq8_cos, exact_cos,
      |    row_number() OVER (
      |      PARTITION BY probe_id ORDER BY sq8_cos DESC, vec_id) AS rank_sq8,
      |    row_number() OVER (
      |      PARTITION BY probe_id ORDER BY exact_cos DESC, vec_id) AS rank_exact
      |  FROM p)
      |SELECT probe_id,
      |  CAST(SUM(CASE WHEN rank_sq8 <= $K AND rank_exact <= $K
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
      |  CAST(SUM(CASE WHEN rank_sq8 <= $K AND rank_exact <= $K
      |    THEN 1 ELSE 0 END) AS DOUBLE) / $K AS recall5,
      |  MAX(CASE WHEN rank_sq8 <= $K
      |    THEN abs(sq8_cos - exact_cos) END) AS max_abs_cos_err
      |FROM r
      |WHERE rank_sq8 <= $K OR rank_exact <= $K
      |GROUP BY probe_id
      |ORDER BY probe_id""".stripMargin
  }

  // --------------------------------------------------------------- q176
  /** Matryoshka (prefix-truncation) retrieval recall: rank the corpus by
    * cosine over the FIRST 16 of 64 dimensions and report, per cert
    * probe, how many of the prefix top-5 are in the exact-64d top-5,
    * plus the worst |prefix_cos − exact_cos| across the prefix top-5.
    * The q163 discipline applied to the OTHER standard embedding
    * compression: SQ8 shrinks bits per dimension, MRL-style truncation
    * drops dimensions — a 4× cut with zero decode cost, which is why
    * coarse-stage rankers at 100 TB run on prefixes and re-rank the
    * shortlist at full width. This certifies exactly how much that
    * coarse stage loses on this corpus.
    *
    * Scale/exactness: identical to q163 — probe slice capped to the
    * deterministic cert ids (fixed |probes|·N pair stream, linear in
    * corpus), one window partitioning carrying both rank columns, and
    * every cosine a left-associated [[dotD]] fold (the 16-d prefix fold
    * is the same op sequence as the oracle's 16-term unrolled sum). */
  def q176MrlRecall(spark: SparkSession, dir: String): DataFrame = {
    val PDim = 16
    val e = Kpis.table(spark, dir, "embeddings")
      .withColumn("pre", slice(col("embedding"), 1, PDim))
      .select(col("vec_id"), col("embedding"), col("pre"),
        norm2(col("embedding")).as("n2"), norm2(col("pre")).as("n2p"))
    val q = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000)
      .select(col("vec_id").as("probe_id"), col("embedding").as("qe"),
        col("pre").as("qpre"), col("n2").as("qn2"), col("n2p").as("qn2p"))
    val pairs = e.crossJoin(broadcast(q))
      .filter(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"),
        (dotD(col("qpre"), col("pre")) /
          (sqrt(col("qn2p")) * sqrt(col("n2p")))).as("pre_cos"),
        (dotD(col("qe"), col("embedding")) /
          (sqrt(col("qn2")) * sqrt(col("n2")))).as("exact_cos"))
    val byProbe = Window.partitionBy(col("probe_id"))
    val rpre = row_number().over(
      byProbe.orderBy(col("pre_cos").desc, col("vec_id")))
    val rex = row_number().over(
      byProbe.orderBy(col("exact_cos").desc, col("vec_id")))
    pairs
      .select(col("probe_id"), col("pre_cos"), col("exact_cos"),
        rpre.as("rank_pre"), rex.as("rank_exact"))
      .filter(col("rank_pre") <= K || col("rank_exact") <= K)
      .groupBy(col("probe_id"))
      .agg(
        sum(when(col("rank_pre") <= K && col("rank_exact") <= K, 1L)
          .otherwise(0L)).as("n_common"),
        max(when(col("rank_pre") <= K,
          abs(col("pre_cos") - col("exact_cos")))).as("max_abs_cos_err"))
      .withColumn("recall5", col("n_common").cast("double") / K)
      .select(col("probe_id"), col("n_common"), col("recall5"),
        col("max_abs_cos_err"))
      .orderBy("probe_id")
  }

  val q176Sql: String = {
    val PDim = 16
    val dotPre = dotSqlUnrolled("c.embedding", "q.embedding", PDim)
    val dotEx = dotSqlUnrolled("c.embedding", "q.embedding", Dim)
    val n2pre = dotSqlUnrolled("embedding", "embedding", PDim)
    val n2ex = dotSqlUnrolled("embedding", "embedding", Dim)
    s"""WITH n AS MATERIALIZED (
      |  SELECT vec_id, embedding,
      |    $n2ex AS n2, $n2pre AS n2p
      |  FROM embeddings),
      |p AS (
      |  SELECT q.vec_id AS probe_id, c.vec_id,
      |    ($dotPre) / (sqrt(q.n2p) * sqrt(c.n2p)) AS pre_cos,
      |    ($dotEx) / (sqrt(q.n2) * sqrt(c.n2)) AS exact_cos
      |  FROM n c, n q
      |  WHERE q.vec_id % 50 = 0 AND q.vec_id < 2000
      |    AND c.vec_id <> q.vec_id),
      |r AS (
      |  SELECT probe_id, pre_cos, exact_cos,
      |    row_number() OVER (
      |      PARTITION BY probe_id ORDER BY pre_cos DESC, vec_id) AS rank_pre,
      |    row_number() OVER (
      |      PARTITION BY probe_id ORDER BY exact_cos DESC, vec_id) AS rank_exact
      |  FROM p)
      |SELECT probe_id,
      |  CAST(SUM(CASE WHEN rank_pre <= $K AND rank_exact <= $K
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
      |  CAST(SUM(CASE WHEN rank_pre <= $K AND rank_exact <= $K
      |    THEN 1 ELSE 0 END) AS DOUBLE) / $K AS recall5,
      |  MAX(CASE WHEN rank_pre <= $K
      |    THEN abs(pre_cos - exact_cos) END) AS max_abs_cos_err
      |FROM r
      |WHERE rank_pre <= $K OR rank_exact <= $K
      |GROUP BY probe_id
      |ORDER BY probe_id""".stripMargin
  }

  def queries: Seq[Query] = Seq(
    Query("q163_sq8_recall", q163Sq8Recall _, q163Sql),
    Query("q176_mrl_recall", q176MrlRecall _, q176Sql))
}
