package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnShim, TopKLongPairs}

import graft.Query
import graft.queries.{Kpis, Tpch3Queries}

/** Per-group top-k WITHOUT a window sort: the native bounded aggregate
  * [[org.apache.spark.sql.graft.TopKLongPairs]] exposed as an operator.
  * The window idiom (`row_number() OVER (PARTITION BY g ORDER BY v
  * DESC)` then `rk <= k`) shuffles and fully sorts every (group, value)
  * row before discarding all but k per group; the aggregate form ships
  * ≤ k pairs per group per map partition (partial aggregation) and
  * sorts only its own 2k-element buffer — at 100 TB the difference
  * between sorting the fact table and sorting nothing.
  */
object TopK {

  /** `array<struct<key, id>>` of the k best (key DESC, id ASC) pairs in
    * the group. Keys are exact fixed-point longs by design (rank money
    * by the DECIMAL's unscaled value, never by a double). */
  def topKLongPairs(key: Column, id: Column, k: Int): Column =
    ColumnShim.column(TopKLongPairs(
      ColumnShim.expression(key), ColumnShim.expression(id), k)
      .toAggregateExpression())

  // --------------------------------------------------------------- q168
  /** q113's top-3-parts-per-nation computed through the bounded
    * aggregate instead of the window — REGISTERED AGAINST q113's OWN
    * ORACLE, so the hash match certifies the two plans are value- and
    * tie-identical (the q116/q48 shared-oracle convention). Ranking
    * uses the revenue DECIMAL's unscaled 4-dp long (exact — no double
    * tie ambiguity); the emitted revenue rebuilds the same decimal via
    * MakeDecimal and casts to double exactly as q113 does, so even the
    * float column is bit-identical.
    *
    * Scale shape: one (nation, part) pre-aggregate (the same shuffle
    * q113 pays), then the per-nation top-3 collapses MAP-SIDE — the
    * exchange after the pre-agg carries ≤ 3 pairs per nation per
    * partition instead of every (nation, part) row, and nothing sorts
    * but 6-element buffers. posexplode of the ≤ 3-element result array
    * recovers (rank, part). */
  def q168TopkAggParts(spark: SparkSession, dir: String): DataFrame = {
    val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(18,4)")
    val l = Kpis.table(spark, dir, "lineitem")
      .select(col("l_suppkey"), col("l_partkey"), rev.as("rev"))
    val s = Kpis.table(spark, dir, "supplier")
      .select("s_suppkey", "s_nationkey")
    val n = Kpis.table(spark, dir, "nation").select("n_nationkey", "n_name")
    val unscaled = (sum(col("rev")).cast("decimal(18,4)") * lit(10000))
      .cast("long")
    val top = l
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("l_partkey"))
      .agg(unscaled.as("u"))
      .groupBy(col("n_name"))
      .agg(topKLongPairs(col("u"), col("l_partkey"), 3).as("top"))
    val revOut = ColumnShim.column(
      org.apache.spark.sql.catalyst.expressions.MakeDecimal(
        ColumnShim.expression(col("e.key")), 18, 4)).cast("double")
    top.select(col("n_name"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("n_name"), (col("i") + 1).as("rk"),
        col("e.id").as("p_partkey"), revOut.as("revenue"))
      .orderBy(col("n_name"), col("rk"))
  }

  def queries: Seq[Query] = Seq(
    // q113's oracle verbatim: the certificate IS that the bounded
    // aggregate reproduces the window plan's exact output
    Query("q168_topk_agg_parts", q168TopkAggParts _, Tpch3Queries.q113Sql))
}
