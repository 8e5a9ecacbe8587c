package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Query
import graft.queries.Kpis

/** PageRank by iterated join+aggregate — the graph-centrality primitive a
  * training-data pipeline runs over link/citation/co-occurrence graphs
  * for source-quality weighting (a web-scale corpus weights documents by
  * the link graph before sampling). Extension scope, same family as the
  * connected-components operator in [[DupClusters]].
  *
  * Scale shape per iteration: ranks join the edge list on src (a shuffle
  * on the SAME key every round — co-partitioned after the first), then
  * one map-side-combinable sum per dst; the rank vector is one row per
  * node, never materialized on the driver. Iterations are a fixed
  * constant (production runs to convergence with the same per-round
  * plan; the delta check is an agg on the tiny rank vector).
  *
  * Cross-engine determinism (the k-means convention): each per-edge
  * contribution rounds to 12 dp and sums as DECIMAL(38,12) — exact and
  * associative, so Spark's partial aggregation and DuckDB's single-node
  * sum cannot diverge; the damping update is the identical IEEE chain on
  * those exact sums, re-rounded to the 12 dp grid each round.
  */
object PageRank {

  private val Damping = 0.85

  /** `iters` rounds over `edges` (src, dst; every node must appear as a
    * src — feed symmetric edges for undirected graphs, or pre-patch
    * dangling nodes). Returns (node, r, n_out).
    *
    * `broadcastRanks` (default true) ships the node-sized rank vector to
    * the edge partitions each round — right whenever nodes ≪ edges fits
    * in executor memory (dimension-graph scale, like this trade graph).
    * For billion-node web graphs set it false: the contribution join
    * then shuffles BOTH sides on src, and the persisted edge list keeps
    * a stable partitioning across rounds so only the skinny rank vector
    * actually moves. */
  def pageRank(edges: DataFrame, iters: Int,
               broadcastRanks: Boolean = true): DataFrame = {
    // reused every round
    val edgesW = edges.persist(StorageLevel.MEMORY_AND_DISK)
    // outdeg doubles as the node set: one row per src = one per node
    // (every node appears as a src by contract) — no separate distinct
    // pass over the edges, and n_out rides along to the output for free
    val nodes = edgesW.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("n_out"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nn = nodes.agg(count(lit(1)).as("n"))
    val r0 = nodes.crossJoin(broadcast(nn))
      .select(col("node"), col("n_out"), col("n"),
        round(lit(1.0) / col("n").cast("double"), 12).as("r"))
    val rFinal = (1 to iters).foldLeft(r0) { (ranks, _) =>
      val shares = ranks.select(col("node"),
        round(col("r") / col("n_out").cast("double"), 12).as("share"))
      val contrib = (if (broadcastRanks) broadcast(shares) else shares)
        .join(edgesW, col("node") === edgesW("src"))
        .select(col("dst"), col("share").cast("decimal(38,12)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      nodes.crossJoin(broadcast(nn))
        .join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"), col("n_out"), col("n"),
          round(lit(0.15) / col("n").cast("double") + lit(Damping) *
            coalesce(col("s"), lit(0).cast("decimal(38,12)")).cast("double"),
            12).as("r"))
    }
    // Materialize the node-sized rank vector eagerly so the persisted
    // inputs can be unpersisted HERE (the q44 lesson: CacheManager pins
    // persist() entries strongly, so a lazy plan over them would retain
    // the edge table for the JVM's lifetime).
    val out = rFinal.select(col("node"), col("r"), col("n_out"))
      .localCheckpoint(true)
    edgesW.unpersist(); nodes.unpersist()
    out
  }

  /** DuckDB replay of [[pageRank]] as unrolled CTEs. `edgesSelect` must
    * emit (src, dst). Returns (cteChain, finalCteName) where the final
    * CTE holds (node, r). */
  def pageRankSqlCtes(edgesSelect: String, iters: Int,
                      p: String): (String, String) = {
    def iterCtes(t: Int) =
      s"""${p}_c$t AS (
        |  SELECT e.dst AS node,
        |    SUM(CAST(ROUND(r.r / CAST(o.n_out AS DOUBLE), 12)
        |        AS DECIMAL(38,12))) AS s
        |  FROM ${p}_r${t - 1} r
        |  JOIN ${p}_edges e ON r.node = e.src
        |  JOIN ${p}_outdeg o ON e.src = o.src
        |  GROUP BY 1),
        |${p}_r$t AS (
        |  SELECT n.node,
        |    ROUND(0.15 / CAST(nn.n AS DOUBLE)
        |      + 0.85 * CAST(COALESCE(c.s, CAST(0 AS DECIMAL(38,12)))
        |                    AS DOUBLE), 12) AS r
        |  FROM ${p}_nodes n CROSS JOIN ${p}_nn nn
        |  LEFT JOIN ${p}_c$t c ON n.node = c.node)""".stripMargin
    val chain =
      s"""${p}_edges AS ($edgesSelect),
        |${p}_outdeg AS (
        |  SELECT src, COUNT(*) AS n_out FROM ${p}_edges GROUP BY 1),
        |${p}_nodes AS (SELECT DISTINCT src AS node FROM ${p}_edges),
        |${p}_nn AS (SELECT COUNT(*) AS n FROM ${p}_nodes),
        |${p}_r0 AS (
        |  SELECT node, ROUND(1.0 / CAST(n AS DOUBLE), 12) AS r
        |  FROM ${p}_nodes CROSS JOIN ${p}_nn),
        |${(1 to iters).map(iterCtes).mkString(",\n")}""".stripMargin
    (chain, s"${p}_r$iters")
  }

  // ---------------------------------------------------------------- q80
  /** PageRank over the supplier↔customer trade graph (distinct
    * supplier–customer pairs from lineitem⋈orders, symmetrized so every
    * node has out-edges): the 20 most central trade participants after 3
    * rounds. */
  private def q80Edges(spark: SparkSession, dir: String): DataFrame = {
    val lo = Kpis.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey")
      .join(Kpis.table(spark, dir, "orders")
        .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        concat(lit("s"), col("l_suppkey").cast("string")).as("sn"),
        concat(lit("c"), col("o_custkey").cast("string")).as("cn"))
      .distinct()
    lo.select(col("sn").as("src"), col("cn").as("dst"))
      .unionAll(lo.select(col("cn").as("src"), col("sn").as("dst")))
  }

  def q80Pagerank(spark: SparkSession, dir: String): DataFrame =
    pageRank(q80Edges(spark, dir), iters = 3)
      .select(col("node"), round(col("r"), 9).as("rank_score"),
        col("n_out"))
      .orderBy(col("rank_score").desc, col("node"))
      .limit(20)

  val q80Sql: String = {
    val edgesSelect =
      """WITH lo AS (
        |    SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS sn,
        |      'c' || CAST(o_custkey AS VARCHAR) AS cn
        |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |  SELECT sn AS src, cn AS dst FROM lo
        |  UNION ALL SELECT cn AS src, sn AS dst FROM lo""".stripMargin
    val (chain, rOut) = pageRankSqlCtes(edgesSelect, iters = 3, p = "pr")
    s"""WITH $chain
      |SELECT r.node, ROUND(r.r, 9) AS rank_score,
      |  o.n_out
      |FROM $rOut r JOIN pr_outdeg o ON r.node = o.src
      |ORDER BY rank_score DESC, r.node LIMIT 20""".stripMargin
  }

  def queries: Seq[Query] = Seq(
    Query("q80_pagerank", q80Pagerank _, q80Sql))
}
