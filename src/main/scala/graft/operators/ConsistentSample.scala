package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.TextFunctions

/** Consistent per-group sampling: keep the k rows with the smallest
  * deterministic sort key (here md5 of normalized text) per group — the
  * training-data-pipeline "stable sample per source/lang" primitive
  * (re-runs and incremental loads pick the SAME sample; new docs displace
  * old ones only by hash order).
  *
  * Implemented as a typed `Aggregator` (the (b)-tier TypedColumn path)
  * rather than a row_number window, because the aggregate form PARTIALLY
  * AGGREGATES: each map task ships ONE merged k-bounded buffer per key into
  * the shuffle. Measured against the window twin (ConsistentSampleSpec):
  * Spark 4's `WindowGroupLimit` rule also bounds a rank<=k window map-side
  * (k rows per key per map task), so both plans are shuffle-safe at 100 TB;
  * the aggregator still ships k× fewer shuffle records (one buffer vs k
  * rows per key), and — the real point — the Aggregator shape generalizes
  * to ANY associative bounded state, not just rank-expressible limits.
  */
object ConsistentSample {

  final case class SampleIn(lang: String, sortKey: String, docId: Long)

  /** Bounded buffer of the k smallest (sortKey, docId) pairs; merge is
    * associative+commutative, so Spark can combine partials map-side. */
  final class BottomK(k: Int)
      extends Aggregator[SampleIn, List[(String, Long)], Seq[Long]] {
    require(k > 0)
    override def zero: List[(String, Long)] = Nil
    override def reduce(b: List[(String, Long)], a: SampleIn): List[(String, Long)] =
      ((a.sortKey, a.docId) :: b).sorted.take(k)
    override def merge(x: List[(String, Long)], y: List[(String, Long)]): List[(String, Long)] =
      (x ::: y).sorted.take(k)
    override def finish(b: List[(String, Long)]): Seq[Long] =
      b.sorted.map(_._2)
    override def bufferEncoder: Encoder[List[(String, Long)]] =
      Encoders.kryo[List[(String, Long)]]
    override def outputEncoder: Encoder[Seq[Long]] =
      ExpressionEncoder[Seq[Long]]()
  }

  /** q38: a stable 8-doc sample per language, exploded to
    * (lang, pos, doc_id). The DuckDB oracle replays it as a window top-k —
    * same result, different (less scalable) plan. */
  def q38ConsistentSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang"),
        TextFunctions.fingerprint(col("text")).as("sortKey"),
        col("doc_id").as("docId"))
      .as[SampleIn]
    ds.groupByKey(_.lang)
      .agg(new BottomK(8).toColumn.name("sample"))
      .toDF("lang", "sample")
      .select(col("lang"), posexplode(col("sample")).as(Seq("pos", "doc_id")))
      .orderBy("lang", "pos")
  }

  val q38Sql: String =
    """WITH s AS (
      |  SELECT lang, doc_id,
      |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS k
      |  FROM documents),
      |r AS (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS rk
      |  FROM s)
      |SELECT lang, CAST(rk - 1 AS INTEGER) AS pos, doc_id
      |FROM r WHERE rk <= 8 ORDER BY lang, pos""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q38_consistent_sample", q38ConsistentSample _, q38Sql))
}
