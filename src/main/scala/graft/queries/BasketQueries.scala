package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query

/** Market-basket co-occurrence mining — pairwise frequent itemsets over
  * order baskets, the recommendation/affinity primitive ("parts bought
  * together") every commerce warehouse runs.
  */
object BasketQueries {

  // ---------------------------------------------------------------- q92
  /** Top-20 part pairs by co-purchase support with their lift
    * ( P(a,b) / (P(a)·P(b)) ). Pairs are generated ORDER-LOCALLY: each
    * basket's distinct parts are collected to an array (baskets are
    * bounded — lineitem holds ≤ 7 lines per order; a pathological
    * basket would cap via slice) and the C(n,2) pairs explode from the
    * array — no self-join of the exploded corpus on orderkey, so the
    * shuffle volume is Σ C(|basket|,2) pair rows, not |lineitem|² /
    * |orders|. Supports and lift are exact integer counts and one double
    * composite, spelled identically in both engines.
    *
    * The pair explosion uses flatten(transform(...transform...)) — the
    * array-level nested loop the DuckDB twin replays with a
    * cross-unnest + i < j filter. */
  def q92Copurchase(spark: SparkSession, dir: String): DataFrame = {
    val baskets = Kpis.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(array_sort(array_distinct(collect_list(col("l_partkey"))))
        .as("parts"))
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val partCounts = baskets
      .select(explode(col("parts")).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("n"))
    val pairs = baskets.select(explode(flatten(
        transform(col("parts"), (a, i) =>
          transform(slice(col("parts"), i + lit(2),
              greatest(size(col("parts")) - i - 1, lit(0))),
            b => struct(a.as("pa"), b.as("pb"))))))
        .as("pr"))
      .select(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n_both"))
    pairs
      .join(partCounts.select(col("part").as("pa"), col("n").as("n_a")), "pa")
      .join(partCounts.select(col("part").as("pb"), col("n").as("n_b")), "pb")
      .crossJoin(broadcast(nOrders))
      .select(col("pa"), col("pb"), col("n_both"), col("n_a"), col("n_b"),
        ((col("n_both").cast("double") * col("n_orders").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("lift"))
      .orderBy(col("n_both").desc, col("pa"), col("pb"))
      .limit(20)
  }

  val q92Sql: String =
    """WITH baskets AS (
      |  SELECT l_orderkey,
      |    list_sort(list_distinct(list(l_partkey))) AS parts
      |  FROM lineitem GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_orders FROM baskets),
      |parts AS (
      |  SELECT unnest(parts) AS part, l_orderkey FROM baskets),
      |pc AS (SELECT part, COUNT(*) AS n FROM parts GROUP BY 1),
      |pairs AS (
      |  SELECT a.part AS pa, b.part AS pb, COUNT(*) AS n_both
      |  FROM parts a JOIN parts b
      |    ON a.l_orderkey = b.l_orderkey AND a.part < b.part
      |  GROUP BY 1, 2)
      |SELECT pa, pb, n_both, ca.n AS n_a, cb.n AS n_b,
      |  (CAST(n_both AS DOUBLE) * CAST(n_orders AS DOUBLE))
      |    / (CAST(ca.n AS DOUBLE) * CAST(cb.n AS DOUBLE)) AS lift
      |FROM pairs
      |JOIN pc ca ON pairs.pa = ca.part
      |JOIN pc cb ON pairs.pb = cb.part
      |CROSS JOIN n
      |ORDER BY n_both DESC, pa, pb
      |LIMIT 20""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q92_copurchase", q92Copurchase _, q92Sql))
}
