package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query

/** Distributed graph analytics over the co-purchase graph (companion to
  * [[BasketQueries]] q92 and the PageRank/connected-components operators):
  * triangle counting and the global clustering coefficient — the standard
  * graph-density telemetry for recommendation and community workloads.
  */
object GraphQueries {

  // --------------------------------------------------------------- q111
  /** Triangle count + global clustering coefficient of the co-purchase
    * graph (nodes = parts; an edge joins two parts co-purchased in ≥ 2
    * distinct orders — the support threshold that keeps incidental
    * one-basket pairings out and the graph sparse).
    *
    * Counting is [[graft.operators.TriangleCount.summary]] — the
    * degree-oriented wedge-closure operator (see its scaladoc for the
    * O(m^1.5) argument); this query owns only the edge construction:
    * order-local pair explosion (q92's shape) → support filter →
    * localCheckpoint (reused by the operator's degree and count
    * branches without re-running the basket explosion).
    *
    * Output is one summary row; the clustering coefficient divides two
    * exact integer counts in one double op — bit-identical cross-engine.
    */
  def q111Triangles(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TriangleCount.summary(
      coPurchaseEdges(spark, dir), "pa", "pb")

  /** The co-purchase edge list shared by q111/q123: order-local pair
    * explosion (q92's shape) → support ≥ 2 filter → localCheckpoint so
    * downstream iterative consumers (degree + count branches, BFS
    * rounds) reuse the materialized edges without re-running the basket
    * explosion. */
  private[queries] def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    coPurchaseWeighted(spark, dir).select("pa", "pb")

  /** Same edge list with the co-purchase support kept — q173's weight
    * input. Materialized once; q111/q123 project the support away. */
  private[queries] def coPurchaseWeighted(spark: SparkSession, dir: String): DataFrame = {
    val baskets = Kpis.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(array_sort(array_distinct(collect_list(col("l_partkey"))))
        .as("parts"))
    val pairs = baskets.select(explode(flatten(
        transform(col("parts"), (a, i) =>
          transform(slice(col("parts"), i + lit(2),
              greatest(size(col("parts")) - i - 1, lit(0))),
            b => struct(a.as("pa"), b.as("pb"))))))
        .as("pr"))
      .select(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
    pairs.groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
      .localCheckpoint()
  }

  // --------------------------------------------------------------- q123
  /** Bounded BFS hop distances over the co-purchase graph: every part
    * within 4 hops of the seed (the minimum node id in the edge set —
    * deterministic and guaranteed to have neighbors), with its exact
    * hop distance. The Spark side is [[graft.operators.BfsDistance]]'s
    * frontier iteration (per-round shuffle cost = frontier size, edges
    * stay put); the oracle replays it as a DuckDB RECURSIVE CTE whose
    * UNION-distinct semantics bound the working set to (node, dist)
    * pairs — the first recursive oracle in the suite, certifying the
    * iterative Spark loop against a declarative fixpoint. All-integer
    * output: hash-safe. */
  def q123KhopBfs(spark: SparkSession, dir: String): DataFrame = {
    val edges = coPurchaseEdges(spark, dir)
    val seed = edges
      .select(least(min(col("pa")), min(col("pb"))).as("node"))
    graft.operators.BfsDistance.distances(edges, "pa", "pb", seed, maxHops = 4)
      .select(col("node").as("p_partkey"), col("dist"))
      .orderBy("p_partkey")
  }

  val q111Sql: String =
    """WITH baskets AS MATERIALIZED (
      |  SELECT l_orderkey,
      |    list_sort(list_distinct(list(l_partkey))) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS MATERIALIZED (
      |  SELECT t1.p AS pa, t2.p AS pb
      |  FROM (SELECT l_orderkey AS ok, unnest(parts) AS p FROM baskets) t1
      |  JOIN (SELECT l_orderkey AS ok, unnest(parts) AS p FROM baskets) t2
      |    USING (ok)
      |  WHERE t1.p < t2.p),
      |edges AS MATERIALIZED (
      |  SELECT pa, pb FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |und AS (SELECT pa AS u FROM edges UNION ALL SELECT pb FROM edges),
      |deg AS MATERIALIZED (SELECT u, COUNT(*) AS d FROM und GROUP BY 1),
      |o AS MATERIALIZED (
      |  SELECT
      |    CASE WHEN (da.d, pa) < (db.d, pb) THEN pa ELSE pb END AS src,
      |    CASE WHEN (da.d, pa) < (db.d, pb) THEN pb ELSE pa END AS dst,
      |    CASE WHEN (da.d, pa) < (db.d, pb) THEN db.d ELSE da.d END
      |      AS dst_deg
      |  FROM edges
      |  JOIN deg da ON da.u = pa
      |  JOIN deg db ON db.u = pb),
      |tri AS (
      |  SELECT COUNT(*) AS n_triangles
      |  FROM o e1
      |  JOIN o e2 ON e1.src = e2.src
      |    AND ((e1.dst_deg, e1.dst) < (e2.dst_deg, e2.dst))
      |  WHERE EXISTS (SELECT 1 FROM o e3
      |                WHERE e3.src = e1.dst AND e3.dst = e2.dst))
      |SELECT
      |  (SELECT COUNT(*) FROM deg) AS n_nodes,
      |  (SELECT COUNT(*) FROM edges) AS n_edges,
      |  (SELECT CAST(SUM((d * (d - 1)) // 2) AS BIGINT) FROM deg)
      |    AS n_wedges,
      |  n_triangles,
      |  3.0 * CAST(n_triangles AS DOUBLE)
      |    / CAST((SELECT CAST(SUM((d * (d - 1)) // 2) AS BIGINT) FROM deg)
      |           AS DOUBLE) AS global_cc
      |FROM tri""".stripMargin

  val q123Sql: String =
    """WITH RECURSIVE baskets AS MATERIALIZED (
      |  SELECT l_orderkey,
      |    list_sort(list_distinct(list(l_partkey))) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS MATERIALIZED (
      |  SELECT t1.p AS pa, t2.p AS pb
      |  FROM (SELECT l_orderkey AS ok, unnest(parts) AS p FROM baskets) t1
      |  JOIN (SELECT l_orderkey AS ok, unnest(parts) AS p FROM baskets) t2
      |    USING (ok)
      |  WHERE t1.p < t2.p),
      |edges AS MATERIALIZED (
      |  SELECT pa, pb FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |und AS MATERIALIZED (
      |  SELECT pa AS src, pb AS dst FROM edges
      |  UNION ALL SELECT pb, pa FROM edges),
      |r(node, dist) AS (
      |  SELECT (SELECT MIN(src) FROM und), CAST(0 AS BIGINT)
      |  UNION
      |  SELECT u.dst, r.dist + 1
      |  FROM r JOIN und u ON u.src = r.node
      |  WHERE r.dist < 4)
      |SELECT node AS p_partkey, MIN(dist) AS dist
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q173
  /** Bounded weighted shortest paths over the co-purchase graph: min
    * path cost from the seed (minimum node id, q123's convention) to
    * every part within 4 hops, where an edge costs 10⁶ div support —
    * strongly co-purchased parts are "close", incidental pairings are
    * expensive. q123 answers "how many hops away"; this answers "how
    * STRONGLY connected", the similarity-radius primitive behind
    * substitute-product and related-item recommendations.
    *
    * The Spark side is [[graft.operators.ShortestPath]]'s pruned
    * Bellman-Ford (per-round shuffle = frontier size, edges stay put);
    * the oracle replays it as a recursive CTE enumerating ≤4-edge walks
    * and taking MIN(cost) — equal because integer edge weights make path
    * costs exact and positive weights make walks no cheaper than their
    * embedded paths. All-integer output: hash-safe. */
  def q173CheapestPaths(spark: SparkSession, dir: String): DataFrame = {
    val edges = coPurchaseWeighted(spark, dir)
      .withColumn("w", expr("CAST(1000000 AS BIGINT) div support"))
    val seed = edges.select(least(min(col("pa")), min(col("pb"))).as("node"))
    graft.operators.ShortestPath
      .costs(edges, "pa", "pb", "w", seed, maxHops = 4)
      .select(col("node").as("p_partkey"), col("cost").as("path_cost"))
      .orderBy("p_partkey")
  }

  val q173Sql: String =
    """WITH RECURSIVE baskets AS MATERIALIZED (
      |  SELECT l_orderkey,
      |    list_sort(list_distinct(list(l_partkey))) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS MATERIALIZED (
      |  SELECT t1.p AS pa, t2.p AS pb
      |  FROM (SELECT l_orderkey AS ok, unnest(parts) AS p FROM baskets) t1
      |  JOIN (SELECT l_orderkey AS ok, unnest(parts) AS p FROM baskets) t2
      |    USING (ok)
      |  WHERE t1.p < t2.p),
      |edges AS MATERIALIZED (
      |  SELECT pa, pb, CAST(1000000 // COUNT(*) AS BIGINT) AS w
      |  FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |und AS MATERIALIZED (
      |  SELECT pa AS src, pb AS dst, w FROM edges
      |  UNION ALL SELECT pb, pa, w FROM edges),
      |r(node, cost, hop) AS (
      |  SELECT (SELECT MIN(src) FROM und), CAST(0 AS BIGINT), 0
      |  UNION
      |  SELECT u.dst, r.cost + u.w, r.hop + 1
      |  FROM r JOIN und u ON u.src = r.node
      |  WHERE r.hop < 4)
      |SELECT node AS p_partkey, MIN(cost) AS path_cost
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q186
  /** Degree distribution of the co-purchase graph with a log-log
    * power-law fit — the graph-shape telemetry that decides which
    * algorithms are safe: a heavy-tailed degree distribution (slope
    * around −2..−3) means hub nodes exist, so triangle counting needs
    * q111's degree-orientation and joins need skew handling; a flat
    * distribution means neither. Output: node/edge totals, the maximum
    * degree, and the OLS slope/intercept of ln(count) on ln(degree)
    * over the degree census — q115's Zipf machinery pointed at graph
    * degrees instead of token ranks.
    *
    * Exactness: the census is exact integers; log points snap to the
    * 9-dp grid so the OLS sums are exact decimals (q115's recipe,
    * including its final 6-dp output rounding with the negative-zero
    * guard, which absorbs the scale-18 cast wobble).
    *
    * Scale shape: degrees are one map-combinable agg over the edge
    * list; the census collapses to |distinct degrees| rows (hundreds at
    * any corpus size — degree values saturate long before node counts);
    * the fit is a single reduce over the census. */
  def q186DegreeDist(spark: SparkSession, dir: String): DataFrame = {
    val edges = coPurchaseEdges(spark, dir)
    val und = edges.select(col("pa").as("u"))
      .union(edges.select(col("pb").as("u")))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val census = deg.groupBy(col("d")).agg(count(lit(1)).as("cnt"))
    val pts = census.select(col("d"), col("cnt"),
      round(log(col("d").cast("double")), 9).cast("decimal(18,9)").as("x"),
      round(log(col("cnt").cast("double")), 9).cast("decimal(18,9)").as("y"))
    val sums = pts.agg(
      count(lit(1)).as("n_points"),
      sum(col("d") * col("cnt")).as("deg_sum"),
      max(col("d")).as("max_degree"),
      sum(col("cnt")).as("n_nodes"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("x") * col("x")).cast("double").as("sxx"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("x") * col("y")).cast("double").as("sxy"))
    val nd = col("n_points").cast("double")
    val slope = (nd * col("sxy") - col("sx") * col("sy")) /
      (nd * col("sxx") - col("sx") * col("sx"))
    sums
      .withColumn("slope", slope)
      .select(col("n_nodes"), expr("deg_sum div 2").as("n_edges"),
        col("max_degree"), col("n_points").as("n_distinct_degrees"),
        (round(col("slope"), 6) + lit(0.0)).as("powerlaw_slope"),
        (round((col("sy") - col("slope") * col("sx")) / nd, 6) + lit(0.0))
          .as("powerlaw_intercept"))
  }

  val q186Sql: String =
    """WITH baskets AS MATERIALIZED (
      |  SELECT l_orderkey,
      |    list_sort(list_distinct(list(l_partkey))) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS MATERIALIZED (
      |  SELECT t1.p AS pa, t2.p AS pb
      |  FROM (SELECT l_orderkey AS ok, unnest(parts) AS p FROM baskets) t1
      |  JOIN (SELECT l_orderkey AS ok, unnest(parts) AS p FROM baskets) t2
      |    USING (ok)
      |  WHERE t1.p < t2.p),
      |edges AS MATERIALIZED (
      |  SELECT pa, pb FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |und AS (SELECT pa AS u FROM edges UNION ALL SELECT pb FROM edges),
      |deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY 1),
      |census AS (SELECT d, COUNT(*) AS cnt FROM deg GROUP BY 1),
      |pts AS (
      |  SELECT d, cnt,
      |    CAST(round(ln(CAST(d AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
      |    CAST(round(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
      |  FROM census),
      |sums AS (
      |  SELECT COUNT(*) AS n_points,
      |    CAST(SUM(d * cnt) AS BIGINT) AS deg_sum,
      |    MAX(d) AS max_degree,
      |    CAST(SUM(cnt) AS BIGINT) AS n_nodes,
      |    CAST(SUM(x) AS DOUBLE) AS sx,
      |    CAST(SUM(x * x) AS DOUBLE) AS sxx,
      |    CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(SUM(x * y) AS DOUBLE) AS sxy
      |  FROM pts),
      |f AS (
      |  SELECT *,
      |    (CAST(n_points AS DOUBLE) * sxy - sx * sy) /
      |      (CAST(n_points AS DOUBLE) * sxx - sx * sx) AS slope
      |  FROM sums)
      |SELECT n_nodes, deg_sum // 2 AS n_edges, max_degree,
      |  n_points AS n_distinct_degrees,
      |  round(slope, 6) + 0.0 AS powerlaw_slope,
      |  round((sy - slope * sx) / CAST(n_points AS DOUBLE), 6) + 0.0
      |    AS powerlaw_intercept
      |FROM f""".stripMargin

  // --------------------------------------------------------------- q213
  /** Degree assortativity (Newman's r) of the co-purchase graph: the
    * Pearson correlation of end-point degrees over edges. r > 0 means
    * popular parts co-sell with popular parts (a rich-club basket
    * structure — recommendation quality suffers); r < 0 means hubs
    * attach to niches. Complements q186 (what the degree DISTRIBUTION
    * is) with HOW degrees wire together.
    *
    * Exactness: degrees and edge-end sums are exact integers over the
    * symmetric directed edge list (each undirected edge counted both
    * ways, which is exactly Newman's estimator); r is one double
    * expression over four exact sums, rounded at 6 dp, −0.0-guarded.
    *
    * Scale shape: edge list → degree table (hash agg) → two broadcast
    * degree-lookup joins onto edges → one map-combinable sum pass. The
    * degree table is node-scale; edges never self-join. */
  def q213Assortativity(spark: SparkSession, dir: String): DataFrame = {
    val edges = coPurchaseEdges(spark, dir)
    val dir2 = edges.select(col("pa").as("u"), col("pb").as("v"))
      .union(edges.select(col("pb").as("u"), col("pa").as("v")))
    val deg = dir2.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val du = deg.select(col("u").as("ju"), col("d").as("dj"))
    val dv = deg.select(col("u").as("kv"), col("d").as("dk"))
    dir2
      .join(du, col("u") === col("ju"))
      .join(dv, col("v") === col("kv"))
      .agg(
        count(lit(1)).as("m2"),
        sum(col("dj")).as("sj"),
        sum(col("dj").cast("decimal(18,0)") * col("dk").cast("decimal(18,0)"))
          .as("sjk"),
        sum(col("dj").cast("decimal(18,0)") * col("dj").cast("decimal(18,0)"))
          .as("sjj"))
      .select(
        (col("m2") / lit(2)).cast("long").as("n_edges"),
        (round(
          (col("m2").cast("double") * col("sjk").cast("double") -
            col("sj").cast("double") * col("sj").cast("double")) /
            (col("m2").cast("double") * col("sjj").cast("double") -
              col("sj").cast("double") * col("sj").cast("double")), 6) +
          lit(0.0)).as("assortativity"))
  }

  val q213Sql: String =
    """WITH baskets AS MATERIALIZED (
      |  SELECT l_orderkey,
      |    list_sort(list_distinct(list(l_partkey))) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS MATERIALIZED (
      |  SELECT t1.p AS pa, t2.p AS pb
      |  FROM (SELECT l_orderkey AS ok, unnest(parts) AS p FROM baskets) t1
      |  JOIN (SELECT l_orderkey AS ok, unnest(parts) AS p FROM baskets) t2
      |    USING (ok)
      |  WHERE t1.p < t2.p),
      |edges AS MATERIALIZED (
      |  SELECT pa, pb FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |dir2 AS (
      |  SELECT pa AS u, pb AS v FROM edges
      |  UNION ALL SELECT pb, pa FROM edges),
      |deg AS (SELECT u, COUNT(*) AS d FROM dir2 GROUP BY 1),
      |sums AS (
      |  SELECT COUNT(*) AS m2,
      |    CAST(SUM(dj.d) AS BIGINT) AS sj,
      |    SUM(CAST(dj.d AS DECIMAL(18,0)) * CAST(dk.d AS DECIMAL(18,0)))
      |      AS sjk,
      |    SUM(CAST(dj.d AS DECIMAL(18,0)) * CAST(dj.d AS DECIMAL(18,0)))
      |      AS sjj
      |  FROM dir2 e
      |  JOIN deg dj ON e.u = dj.u
      |  JOIN deg dk ON e.v = dk.u)
      |SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
      |  round(
      |    (CAST(m2 AS DOUBLE) * CAST(sjk AS DOUBLE) -
      |     CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)) /
      |    (CAST(m2 AS DOUBLE) * CAST(sjj AS DOUBLE) -
      |     CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)), 6) + 0.0
      |    AS assortativity
      |FROM sums""".stripMargin

  // --------------------------------------------------------------- q235
  /** Rich-club coefficient of the co-purchase graph: among nodes of
    * degree > k, the realized fraction of possible edges, for
    * k ∈ {4, 8, 16}. A rising φ(k) means best-sellers preferentially
    * co-sell with each other — the mechanism behind q213's
    * assortativity sign, localized to the top of the degree
    * distribution (where recommendation feedback loops live).
    *
    * Exactness: node/edge counts are exact integers; φ is one double
    * division against n·(n−1)/2 computed in integer arithmetic.
    *
    * Scale shape: degree table (hash agg) → two broadcast degree
    * lookups onto the edge list → per-k conditional sums in ONE edge
    * pass (k thresholds evaluate as three sums, not three passes);
    * node counts per k from one degree-table pass. */
  def q235RichClub(spark: SparkSession, dir: String): DataFrame = {
    val edges = coPurchaseEdges(spark, dir)
    val und = edges.select(col("pa").as("u"))
      .union(edges.select(col("pb").as("u")))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val ks = Seq(4, 8, 16)
    val nAggs = ks.map(k =>
      sum(when(col("d") > k, 1L).otherwise(0L)).as(s"n$k"))
    val nodeCounts = deg.agg(nAggs.head, nAggs.tail: _*)
    val e = edges
      .join(deg.select(col("u").as("ua"), col("d").as("da")),
        col("pa") === col("ua"))
      .join(deg.select(col("u").as("ub"), col("d").as("db")),
        col("pb") === col("ub"))
    val eAggs = ks.map(k =>
      sum(when(col("da") > k && col("db") > k, 1L).otherwise(0L))
        .as(s"e$k"))
    val edgeCounts = e.agg(eAggs.head, eAggs.tail: _*)
    val wide = nodeCounts.crossJoin(broadcast(edgeCounts))
    val rows = ks.map { k =>
      wide.select(lit(k).as("k"), col(s"n$k").as("n_club"),
        col(s"e$k").as("club_edges"),
        // clubs of <2 nodes have no possible edges: phi undefined (NULL)
        when(col(s"n$k") < 2, lit(null).cast("double"))
          .otherwise(round(lit(2.0) * col(s"e$k").cast("double") /
            (col(s"n$k") * (col(s"n$k") - 1)).cast("double"), 6) + lit(0.0))
          .as("phi"))
    }
    rows.reduce(_ unionAll _).orderBy("k")
  }

  val q235Sql: String =
    """WITH baskets AS MATERIALIZED (
      |  SELECT l_orderkey,
      |    list_sort(list_distinct(list(l_partkey))) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS MATERIALIZED (
      |  SELECT t1.p AS pa, t2.p AS pb
      |  FROM (SELECT l_orderkey AS ok, unnest(parts) AS p FROM baskets) t1
      |  JOIN (SELECT l_orderkey AS ok, unnest(parts) AS p FROM baskets) t2
      |    USING (ok)
      |  WHERE t1.p < t2.p),
      |edges AS MATERIALIZED (
      |  SELECT pa, pb FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |und AS (SELECT pa AS u FROM edges UNION ALL SELECT pb FROM edges),
      |deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY 1),
      |e AS (
      |  SELECT da.d AS da, db.d AS db
      |  FROM edges
      |  JOIN deg da ON pa = da.u JOIN deg db ON pb = db.u),
      |ks AS (SELECT unnest([4, 8, 16]) AS k),
      |nc AS (
      |  SELECT k, CAST(SUM(CASE WHEN d > k THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_club
      |  FROM deg, ks GROUP BY k),
      |ec AS (
      |  SELECT k, CAST(SUM(CASE WHEN da > k AND db > k THEN 1 ELSE 0 END)
      |    AS BIGINT) AS club_edges
      |  FROM e, ks GROUP BY k)
      |SELECT nc.k, n_club, club_edges,
      |  CASE WHEN n_club < 2 THEN NULL
      |       ELSE round(2.0 * CAST(club_edges AS DOUBLE) /
      |         CAST(n_club * (n_club - 1) AS DOUBLE), 6) + 0.0 END AS phi
      |FROM nc JOIN ec ON nc.k = ec.k ORDER BY nc.k""".stripMargin

  // --------------------------------------------------------------- q250
  /** Average-neighbor-degree curve knn(k): for each degree class k, the
    * mean over degree-k nodes of their neighbors' average degree. The
    * FUNCTION whose overall slope q213 compresses to one number (and
    * q235 samples at the top): a falling knn(k) curve shows hubs
    * surrounded by niches (disassortative detail invisible to the
    * scalar r).
    *
    * Exactness: per-node neighbor-degree sums are exact integers; each
    * node's mean is rounded into DECIMAL(18,9) before the per-class
    * sum (no multi-row double sum); the class mean is one double
    * division.
    *
    * Scale shape: degree table → one broadcast degree lookup on the
    * directed edge list → per-node hash agg → per-degree-class census
    * agg. Same two-shuffle shape as q213. */
  def q250NeighborDegree(spark: SparkSession, dir: String): DataFrame = {
    val edges = coPurchaseEdges(spark, dir)
    val dir2 = edges.select(col("pa").as("u"), col("pb").as("v"))
      .union(edges.select(col("pb").as("u"), col("pa").as("v")))
    val deg = dir2.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val nbr = dir2
      .join(deg.select(col("u").as("vn"), col("d").as("dv")),
        col("v") === col("vn"))
      .groupBy(col("u"))
      .agg(count(lit(1)).as("du"), sum(col("dv")).as("s_nb"))
      .withColumn("node_mean",
        round(col("s_nb").cast("double") / col("du").cast("double"), 9)
          .cast("decimal(18,9)"))
    nbr.groupBy(col("du").as("degree"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("node_mean")).as("sm"))
      .select(col("degree"), col("n_nodes"),
        (round(col("sm").cast("double") / col("n_nodes").cast("double"),
          6) + lit(0.0)).as("knn"))
      .orderBy("degree")
  }

  val q250Sql: String =
    """WITH baskets AS MATERIALIZED (
      |  SELECT l_orderkey,
      |    list_sort(list_distinct(list(l_partkey))) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS MATERIALIZED (
      |  SELECT t1.p AS pa, t2.p AS pb
      |  FROM (SELECT l_orderkey AS ok, unnest(parts) AS p FROM baskets) t1
      |  JOIN (SELECT l_orderkey AS ok, unnest(parts) AS p FROM baskets) t2
      |    USING (ok)
      |  WHERE t1.p < t2.p),
      |edges AS MATERIALIZED (
      |  SELECT pa, pb FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |dir2 AS (
      |  SELECT pa AS u, pb AS v FROM edges
      |  UNION ALL SELECT pb, pa FROM edges),
      |deg AS (SELECT u, COUNT(*) AS d FROM dir2 GROUP BY 1),
      |nbr AS (
      |  SELECT e.u, COUNT(*) AS du,
      |    CAST(round(CAST(SUM(dv.d) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
      |      9) AS DECIMAL(18,9)) AS node_mean
      |  FROM dir2 e JOIN deg dv ON e.v = dv.u
      |  GROUP BY e.u)
      |SELECT du AS degree, COUNT(*) AS n_nodes,
      |  round(CAST(SUM(node_mean) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
      |    6) + 0.0 AS knn
      |FROM nbr GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q286
  /** Average LOCAL clustering coefficient of the co-purchase graph
    * (Watts–Strogatz), over nodes with degree ≥ 2: cc(u) = 2t(u)/(d(d−1))
    * averaged per NODE, plus the share of closed-out nodes (cc = 0) and
    * the max. The node-centric complement to q111's global coefficient:
    * global CC weights hubs quadratically, so a few dense hubs can mask
    * an otherwise tree-like catalog — avg-local ≫ global is exactly
    * that signature, and it changes how much a basket recommender can
    * rely on neighborhood closure for the long tail.
    *
    * Exactness: per-node (degree, triangle count) are exact integers
    * from [[graft.operators.TriangleCount.perNodeCc]]'s hash-certified
    * enumeration; each cc is one double ratio snapped to DECIMAL(12,9)
    * so the average is an exact decimal sum; outputs 6-dp-rounded.
    *
    * Scale shape: the q111 oriented-triangle plan plus one explode +
    * map-combinable agg; the census is node-bounded. */
  def q286LocalClustering(spark: SparkSession, dir: String): DataFrame = {
    val pn = graft.operators.TriangleCount
      .perNodeCc(coPurchaseEdges(spark, dir), "pa", "pb")
      .filter(col("d") >= 2)
    val cc = round(lit(2.0) * col("t").cast("double") /
      (col("d").cast("double") * (col("d").cast("double") - lit(1.0))), 9)
      .cast("decimal(12,9)")
    pn.select(col("t"), cc.as("cc"))
      .agg(count(lit(1)).as("n_nodes"),
        (round(sum(col("cc")).cast("double") /
          count(lit(1)).cast("double"), 6) + lit(0.0)).as("avg_local_cc"),
        (round(sum(when(col("t") === 0, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double"), 6) + lit(0.0)).as("share_zero_cc"),
        max(col("cc")).cast("double").as("max_local_cc"))
  }

  val q286Sql: String =
    """WITH baskets AS MATERIALIZED (
      |  SELECT l_orderkey,
      |    list_sort(list_distinct(list(l_partkey))) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS MATERIALIZED (
      |  SELECT t1.p AS pa, t2.p AS pb
      |  FROM (SELECT l_orderkey AS ok, unnest(parts) AS p FROM baskets) t1
      |  JOIN (SELECT l_orderkey AS ok, unnest(parts) AS p FROM baskets) t2
      |    USING (ok)
      |  WHERE t1.p < t2.p),
      |edges AS MATERIALIZED (
      |  SELECT pa, pb FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |und AS (SELECT pa AS u FROM edges UNION ALL SELECT pb FROM edges),
      |deg AS MATERIALIZED (SELECT u, COUNT(*) AS d FROM und GROUP BY 1),
      |o AS MATERIALIZED (
      |  SELECT
      |    CASE WHEN (da.d, pa) < (db.d, pb) THEN pa ELSE pb END AS src,
      |    CASE WHEN (da.d, pa) < (db.d, pb) THEN pb ELSE pa END AS dst,
      |    CASE WHEN (da.d, pa) < (db.d, pb) THEN db.d ELSE da.d END
      |      AS dst_deg
      |  FROM edges
      |  JOIN deg da ON da.u = pa
      |  JOIN deg db ON db.u = pb),
      |trl AS MATERIALIZED (
      |  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
      |  FROM o e1
      |  JOIN o e2 ON e1.src = e2.src
      |    AND ((e1.dst_deg, e1.dst) < (e2.dst_deg, e2.dst))
      |  WHERE EXISTS (SELECT 1 FROM o e3
      |                WHERE e3.src = e1.dst AND e3.dst = e2.dst)),
      |incid AS (
      |  SELECT u, COUNT(*) AS t FROM (
      |    SELECT x AS u FROM trl
      |    UNION ALL SELECT y FROM trl
      |    UNION ALL SELECT z FROM trl) GROUP BY 1),
      |pn AS (
      |  SELECT deg.u, d, COALESCE(t, 0) AS t
      |  FROM deg LEFT JOIN incid USING (u) WHERE d >= 2),
      |cc AS (
      |  SELECT t,
      |    CAST(round(2.0 * CAST(t AS DOUBLE) /
      |      (CAST(d AS DOUBLE) * (CAST(d AS DOUBLE) - 1.0)), 9)
      |      AS DECIMAL(12,9)) AS cc
      |  FROM pn)
      |SELECT COUNT(*) AS n_nodes,
      |  round(CAST(SUM(cc) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) + 0.0
      |    AS avg_local_cc,
      |  round(CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS share_zero_cc,
      |  CAST(MAX(cc) AS DOUBLE) AS max_local_cc
      |FROM cc""".stripMargin

  // --------------------------------------------------------------- q294
  /** 3-core peel convergence ledger: iteratively delete nodes with
    * undirected co-purchase degree < 3 (each deletion lowers neighbours'
    * degrees, so the peel repeats) and emit, per round, how many nodes
    * survive — round 0 is every node with ≥1 edge, round r the nodes
    * with degree ≥ 3 inside round r−1's induced subgraph. The k-core is
    * the fixpoint; Round12hSpec certifies the ledger converged (last two
    * rounds equal) and is monotone non-increasing, so the final row IS
    * the 3-core size. This is the standard distributed k-core algorithm
    * (bounded peeling), the cohesion primitive the degree-based family
    * (q186/q235/q250) can't see: a high-degree node OUTSIDE the core is
    * separated from a low-degree node inside it.
    *
    * Rounds are FIXED at 6 in both engines (the oracle unrolls six CTE
    * stages — SQL recursion cannot reference the working set twice per
    * step), making the query deterministic even on a corpus where 6
    * rounds is not yet the fixpoint: the ledger simply shows a
    * non-converged tail, and the spec's fixture assertion is the
    * convergence certificate at test scale.
    *
    * Scale shape: per round, one map-combinable degree agg plus two
    * semi-joins over the SURVIVING edge set (monotonically shrinking);
    * each round localCheckpoints so the 6-round plan never compounds.
    * All-integer; bit-exact. */
  def q294CorePeel(spark: SparkSession, dir: String): DataFrame = {
    val k = 3
    val edges = coPurchaseEdges(spark, dir)
    var cur = edges.select(col("pa").as("s"), col("pb").as("t"))
      .unionAll(edges.select(col("pb").as("s"), col("pa").as("t")))
      .localCheckpoint()
    val rounds = scala.collection.mutable.ArrayBuffer[DataFrame](
      cur.select(col("s")).distinct()
        .agg(count(lit(1)).as("n_nodes"))
        .select(lit(0L).as("round"), col("n_nodes")))
    for (r <- 1 to 6) {
      val keep = cur.groupBy(col("s")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("s").as("v"))
        .localCheckpoint()
      cur = cur
        .join(keep.select(col("v").as("s")), Seq("s"), "left_semi")
        .join(keep.select(col("v").as("t")), Seq("t"), "left_semi")
        .localCheckpoint()
      rounds += keep.agg(count(lit(1)).as("n_nodes"))
        .select(lit(r.toLong).as("round"), col("n_nodes"))
    }
    rounds.reduce(_ unionByName _).orderBy("round")
  }

  val q294Sql: String =
    """WITH baskets AS MATERIALIZED (
      |  SELECT l_orderkey,
      |    list_sort(list_distinct(list(l_partkey))) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS MATERIALIZED (
      |  SELECT t1.p AS pa, t2.p AS pb
      |  FROM (SELECT l_orderkey AS ok, unnest(parts) AS p FROM baskets) t1
      |  JOIN (SELECT l_orderkey AS ok, unnest(parts) AS p FROM baskets) t2
      |    USING (ok)
      |  WHERE t1.p < t2.p),
      |edges AS MATERIALIZED (
      |  SELECT pa, pb FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |und AS MATERIALIZED (
      |  SELECT pa AS s, pb AS t FROM edges
      |  UNION ALL SELECT pb, pa FROM edges),
      |n1 AS MATERIALIZED (
      |  SELECT s AS v FROM und GROUP BY 1 HAVING COUNT(*) >= 3),
      |e1 AS MATERIALIZED (SELECT s, t FROM und
      |  WHERE s IN (SELECT v FROM n1) AND t IN (SELECT v FROM n1)),
      |n2 AS MATERIALIZED (
      |  SELECT s AS v FROM e1 GROUP BY 1 HAVING COUNT(*) >= 3),
      |e2 AS MATERIALIZED (SELECT s, t FROM e1
      |  WHERE s IN (SELECT v FROM n2) AND t IN (SELECT v FROM n2)),
      |n3 AS MATERIALIZED (
      |  SELECT s AS v FROM e2 GROUP BY 1 HAVING COUNT(*) >= 3),
      |e3 AS MATERIALIZED (SELECT s, t FROM e2
      |  WHERE s IN (SELECT v FROM n3) AND t IN (SELECT v FROM n3)),
      |n4 AS MATERIALIZED (
      |  SELECT s AS v FROM e3 GROUP BY 1 HAVING COUNT(*) >= 3),
      |e4 AS MATERIALIZED (SELECT s, t FROM e3
      |  WHERE s IN (SELECT v FROM n4) AND t IN (SELECT v FROM n4)),
      |n5 AS MATERIALIZED (
      |  SELECT s AS v FROM e4 GROUP BY 1 HAVING COUNT(*) >= 3),
      |e5 AS MATERIALIZED (SELECT s, t FROM e4
      |  WHERE s IN (SELECT v FROM n5) AND t IN (SELECT v FROM n5)),
      |n6 AS MATERIALIZED (
      |  SELECT s AS v FROM e5 GROUP BY 1 HAVING COUNT(*) >= 3)
      |SELECT CAST(0 AS BIGINT) AS round,
      |  (SELECT COUNT(DISTINCT s) FROM und) AS n_nodes
      |UNION ALL SELECT 1, (SELECT COUNT(*) FROM n1)
      |UNION ALL SELECT 2, (SELECT COUNT(*) FROM n2)
      |UNION ALL SELECT 3, (SELECT COUNT(*) FROM n3)
      |UNION ALL SELECT 4, (SELECT COUNT(*) FROM n4)
      |UNION ALL SELECT 5, (SELECT COUNT(*) FROM n5)
      |UNION ALL SELECT 6, (SELECT COUNT(*) FROM n6)
      |ORDER BY round""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q294_core_peel", q294CorePeel _, q294Sql),
    Query("q286_local_clustering", q286LocalClustering _, q286Sql),
    Query("q250_neighbor_degree", q250NeighborDegree _, q250Sql),
    Query("q235_rich_club", q235RichClub _, q235Sql),
    Query("q213_assortativity", q213Assortativity _, q213Sql),
    Query("q111_triangles", q111Triangles _, q111Sql),
    Query("q123_khop_bfs", q123KhopBfs _, q123Sql),
    Query("q173_cheapest_paths", q173CheapestPaths _, q173Sql),
    Query("q186_degree_dist", q186DegreeDist _, q186Sql))
}
