package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.TextFunctions

/** Sequence packing — the concat-and-chunk step that turns a document
  * corpus into fixed-capacity training sequences (every doc's tokens are
  * laid end-to-end in a deterministic order; sequence k owns token
  * offsets [k·cap, (k+1)·cap)). Extension scope: the step between a
  * curated corpus and a trainer's sample stream; the reference has no
  * notion of it.
  *
  * Packing is a running sum over a total order, which is inherently
  * sequential — the scalable form shards first: documents are assigned to
  * (lang, shard) streams by a pure hash of the key, each stream packs
  * independently with a window cumsum, and sequence ids are globally
  * unique by construction (stream-local seq index + stream identity).
  * One window shuffle per stream, no driver loops; shard count scales the
  * parallelism (fixture uses 4/lang, a cluster run raises it so each
  * stream's token mass fits one task comfortably). A doc larger than the
  * capacity simply spans multiple sequences — concat-and-chunk never
  * truncates.
  *
  * Output is per-document placement: which sequence its first token lands
  * in, how many sequences it spans, and its offset inside the first one —
  * all integer math, so the DuckDB twin is bit-exact.
  */
object SequencePack {

  /** Per-doc placement after packing each (lang, shard) stream at
    * `capacity` tokens. Input needs (doc_id: long, lang, n_tokens: int).
    */
  def pack(docs: DataFrame, capacity: Int, shards: Int): DataFrame = {
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("shard", pmod(col("doc_id"), lit(shards)).cast("int"))
      .withColumn("cum_after", sum("n_tokens").over(w))
      .withColumn("cum_before", col("cum_after") - col("n_tokens"))
      // `div`, not `/`: Column `/` is DOUBLE division, whose rounding can
      // land a hair above an exact quotient and truncate to the wrong
      // sequence for non-power-of-two capacities
      .withColumn("first_seq", expr(s"cum_before div $capacity"))
      // greatest(..) clamp: a zero-token doc at a stream head has
      // cum_after - 1 = -1, where Spark `div` truncates toward zero but
      // DuckDB `//` floors toward -inf — clamping to cum_before (always
      // >= 0) keeps both engines on integer ground they agree on and
      // pins the n_seqs = 1 convention for empty docs
      .withColumn("last_seq",
        expr(s"greatest(cum_after - 1, cum_before) div $capacity"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
      .withColumn("offset_in_seq",
        (col("cum_before") % capacity).cast("int"))
      .select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
        col("first_seq"), col("n_seqs"), col("offset_in_seq"))
  }

  /** q47: pack the documents table (whitespace token counts, capacity 512,
    * 4 shards per language) and emit each doc's placement. */
  def q47SequencePack(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
    pack(docs, capacity = 512, shards = 4)
      .orderBy("doc_id")
  }

  def queries: Seq[Query] = Seq(
    Query("q47_sequence_pack", q47SequencePack _,
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |      AS INTEGER) AS n_tokens,
        |    CAST(doc_id % 4 AS INTEGER) AS shard
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, shard, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum_after
        |  FROM d)
        |SELECT doc_id, lang, shard, n_tokens,
        |  CAST((cum_after - n_tokens) // 512 AS BIGINT) AS first_seq,
        |  CAST(greatest(cum_after - 1, cum_after - n_tokens) // 512
        |    - (cum_after - n_tokens) // 512 + 1 AS BIGINT) AS n_seqs,
        |  CAST((cum_after - n_tokens) % 512 AS INTEGER) AS offset_in_seq
        |FROM c ORDER BY doc_id""".stripMargin))
}
