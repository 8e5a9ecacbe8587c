package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.VectorFunctions._
import graft.queries.Kpis

/** Cell-partitioned semantic dedup — the linear-scale path for embedding
  * near-dup clustering (the SemDeDup recipe: k-means the corpus into
  * cells of roughly constant size, then verify pairs ONLY within a
  * cell). Round-9 provenance: the scale stress (SCALE_NOTES_r09) measured
  * q50's sign-LSH banding quadratic at its registered operating point —
  * 60 bits / 20 bands = 3 bits per band admits ~93% of RANDOM pairs as
  * candidates (1 − (1 − 2⁻³)²⁰), which an all-pairs-oracle recall
  * requirement at cos ≥ 0.4 forces. Cells make the cost explicit and
  * tunable instead: candidate volume is Σ_cells (cell size)² ≈ N²/k, so
  * holding cell size constant (k ∝ N) holds per-row work constant — the
  * 100 TB configuration. The trade, documented rather than hidden: true
  * pairs STRADDLING a cell boundary are missed (SemDeDup's accepted
  * recall trade; multi-probe assignment is the standard mitigation).
  *
  * Fully deterministic and oracle-replayable: cells come from
  * [[KMeans.lloyd]] (first-k seeds, 6-dp centroid grid), pair cosines are
  * the exact left-fold convention, and the DuckDB twin replays cells,
  * pairs, and the transitive closure (q50's recursive pattern) from the
  * same [[KMeans.lloydSqlCtes]] chain.
  */
object SemanticCells {

  private val Dim = 64

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Kpis.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        norm2(col("embedding")).as("n2"))

  /** Within-cell verified near-dup pairs: assign every vector to its
    * `probes` nearest k-means cells, self-join ON THE CELL ID (never
    * across cells), keep cosine ≥ `t`. `k` is the scale knob: cells of
    * ~constant size keep the per-cell quadratic bounded (k ∝ N).
    * `probes` is the recall knob: multi-probe assignment (probes = 2)
    * recovers pairs straddling a cell boundary at ≤ probes² × the
    * candidate volume — still linear in N for fixed probes. With
    * probes > 1 a pair can co-occur in up to probes shared cells, so
    * candidates dedup BEFORE the embedding fetch + verify (the q26
    * convention). */
  def cellPairs(e: DataFrame, k: Int, iters: Int, t: Double,
                probes: Int = 1): DataFrame = {
    val cent = KMeans.lloydCentroids(e, k, iters)
    val asg = KMeans.assignTop(e, cent, probes)
      .select(col("vec_id"), col("cluster"))
    val verified =
      if (probes == 1) {
        // single-probe: each pair lives in exactly one cell — carry the
        // embeddings through the cell join, no dedup pass needed
        val m = asg.join(e, "vec_id")
        val a = m.select(col("cluster"), col("vec_id").as("a_id"),
          col("embedding").as("ae"), col("n2").as("an2"))
        val b = m.select(col("cluster"), col("vec_id").as("b_id"),
          col("embedding").as("be"), col("n2").as("bn2"))
        a.join(b, "cluster").filter(col("a_id") < col("b_id"))
      } else {
        val a = asg.select(col("cluster"), col("vec_id").as("a_id"))
        val b = asg.select(col("cluster"), col("vec_id").as("b_id"))
        a.join(b, "cluster").filter(col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id")).distinct()
          .join(e.select(col("vec_id").as("a_id"),
            col("embedding").as("ae"), col("n2").as("an2")), "a_id")
          .join(e.select(col("vec_id").as("b_id"),
            col("embedding").as("be"), col("n2").as("bn2")), "b_id")
      }
    verified
      .withColumn("cos_sim",
        dotD(col("ae"), col("be")) / (sqrt(col("an2")) * sqrt(col("bn2"))))
      .filter(col("cos_sim") >= t)
      .select(col("a_id"), col("b_id"), col("cos_sim"))
  }

  /** Full cell-dedup pipeline: within-cell pairs → connected components →
    * (vec_id, cluster_id = min member, cluster_size, is_rep). `k` scales
    * with the corpus (constant cell size); the registered q99/q101 size
    * it via [[adaptiveK]] — identical to the oracle's k = 16 at every
    * fixture scale, k ∝ N beyond. */
  def clusters(e: DataFrame, k: Int, iters: Int,
               t: Double, probes: Int = 1): DataFrame = {
    val ep = e.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = cellPairs(ep, k, iters, t, probes)
      .select(col("a_id"), col("b_id")).localCheckpoint(true)
    ep.unpersist()
    val comp = DupClusters.connectedComponents(edges, "a_id", "b_id")
    val sizes = comp.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "comp")
      .select(col("node").as("vec_id"), col("comp").as("cluster_id"),
        col("cluster_size"),
        (col("node") === col("comp")).cast("int").as("is_rep"))
  }

  /** Loader for callers outside the registered entry (ScaleStress). */
  def embFrom(spark: SparkSession, dir: String): DataFrame = emb(spark, dir)

  /** The k ∝ N knob, applied (round 12): k = max(16, ⌈N/125⌉) keeps
    * cells at ~125 vectors regardless of corpus size, which is what
    * makes the within-cell quadratic a LINEAR total (Σ cells·(125)² =
    * N·125). Every test fixture has N ≤ 2000, so this returns exactly
    * the historical k = 16 there — oracle hashes and bench continuity
    * untouched — while the 10× ScaleStress clone (N = 20 000) gets
    * k = 160 instead of 16-cells-of-1250 (whose candidate volume grew
    * ~100×/16 and made q101's wall measurably super-linear: 63 s
    * steady-state at 10× pre-fix). The count() is parquet-metadata
    * cheap next to the clustering it sizes. */
  private def adaptiveK(e: DataFrame): Int =
    math.max(16, ((e.count() + 124) / 125).toInt)

  // ---------------------------------------------------------------- q99
  /** Registered cell-based semantic dedup: 16 cells (2 Lloyd rounds),
    * within-cell cosine ≥ 0.4 (q50's verify threshold, so q99's edge set
    * is exactly q50's restricted to within-cell pairs), connected
    * components over the survivors — q50's output shape (cluster id =
    * min member, size, is_rep). The oracle replays the full chain, so
    * the hash match certifies the k-means cells, the within-cell pair
    * set, AND the closure. */
  def q99SemanticCells(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    clusters(e, k = adaptiveK(e), iters = 2, t = 0.4)
      .orderBy("vec_id")
  }

  val q99Sql: String = {
    // MATERIALIZED hints: the final assignment CTE is referenced twice in
    // `p` and sc_e four times — DuckDB's default CTE INLINING re-expands
    // the whole k-means chain per reference (measured 22 s / OOM-prone at
    // sf0.01; materialized: 0.86 s). Spark needs no twin hint: the
    // assignment is one plan node reused by both join sides.
    val (chain0, asg) = KMeans.lloydSqlCtes(
      "SELECT vec_id, embedding FROM embeddings", Dim, k = 16, iters = 2,
      p = "sc")
    val chain = chain0.replaceAll(
      "(sc_[a-z0-9]+p?) AS \\(", "$1 AS MATERIALIZED (")
    val dot = dotSqlUnrolled("a.embedding", "b.embedding", Dim)
    s"""WITH RECURSIVE $chain,
      |p AS (
      |  SELECT x.vec_id AS a_id, y.vec_id AS b_id
      |  FROM $asg x JOIN $asg y
      |    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      |  JOIN sc_e a ON a.vec_id = x.vec_id
      |  JOIN sc_e b ON b.vec_id = y.vec_id
      |  WHERE ($dot) / (sqrt(a.n2) * sqrt(b.n2)) >= 0.4),
      |sym AS (
      |  SELECT a_id AS src, b_id AS dst FROM p
      |  UNION
      |  SELECT b_id, a_id FROM p),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM sym
      |  UNION
      |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
      |comp AS (
      |  SELECT src AS node, LEAST(src, MIN(dst)) AS cluster_id
      |  FROM reach GROUP BY src),
      |sizes AS (
      |  SELECT cluster_id, COUNT(*) AS n FROM comp GROUP BY cluster_id)
      |SELECT node AS vec_id, cluster_id, CAST(n AS BIGINT) AS cluster_size,
      |  CAST(CASE WHEN node = cluster_id THEN 1 ELSE 0 END AS INTEGER)
      |    AS is_rep
      |FROM comp JOIN sizes USING (cluster_id)
      |ORDER BY vec_id""".stripMargin
  }

  // --------------------------------------------------------------- q101
  /** Multi-probe cell dedup: q99 with probes = 2 — every vector joins its
    * TWO nearest cells, recovering near-dup pairs that straddle a cell
    * boundary (the recall gap q99's scaladoc documents). Candidate
    * volume stays linear in N for fixed probes; Round9Spec asserts the
    * recall ordering q99 ⊆ q101 ⊆ q50 on the fixture. */
  def q101SemanticCellsMp(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    clusters(e, k = adaptiveK(e), iters = 2, t = 0.4, probes = 2)
      .orderBy("vec_id")
  }

  val q101Sql: String = {
    val (chain0, _) = KMeans.lloydSqlCtes(
      "SELECT vec_id, embedding FROM embeddings", Dim, k = 16, iters = 2,
      p = "mp")
    val chain = chain0.replaceAll(
      "(mp_[a-z0-9]+p?) AS \\(", "$1 AS MATERIALIZED (")
    val adot = dotSqlUnrolled("e.embedding", "c.centroid", Dim)
    val pdot = dotSqlUnrolled("a.embedding", "b.embedding", Dim)
    // the final single-probe assignment CTE from the chain goes unused —
    // masg re-ranks against the SAME final centroids (mp_c2) keeping rn<=2
    s"""WITH RECURSIVE $chain,
      |masg AS MATERIALIZED (
      |  SELECT vec_id, cluster FROM (
      |    SELECT e.vec_id, c.cluster,
      |      row_number() OVER (
      |        PARTITION BY e.vec_id
      |        ORDER BY (e.n2 + c.cn2) - 2 * ($adot), c.cluster) AS rn
      |    FROM mp_e e, mp_c2 c) WHERE rn <= 2),
      |p AS (
      |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
      |  FROM masg x JOIN masg y
      |    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      |  JOIN mp_e a ON a.vec_id = x.vec_id
      |  JOIN mp_e b ON b.vec_id = y.vec_id
      |  WHERE ($pdot) / (sqrt(a.n2) * sqrt(b.n2)) >= 0.4),
      |sym AS (
      |  SELECT a_id AS src, b_id AS dst FROM p
      |  UNION
      |  SELECT b_id, a_id FROM p),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM sym
      |  UNION
      |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
      |comp AS (
      |  SELECT src AS node, LEAST(src, MIN(dst)) AS cluster_id
      |  FROM reach GROUP BY src),
      |sizes AS (
      |  SELECT cluster_id, COUNT(*) AS n FROM comp GROUP BY cluster_id)
      |SELECT node AS vec_id, cluster_id, CAST(n AS BIGINT) AS cluster_size,
      |  CAST(CASE WHEN node = cluster_id THEN 1 ELSE 0 END AS INTEGER)
      |    AS is_rep
      |FROM comp JOIN sizes USING (cluster_id)
      |ORDER BY vec_id""".stripMargin
  }

  def queries: Seq[Query] = Seq(
    Query("q99_semantic_cells", q99SemanticCells _, q99Sql),
    Query("q101_semantic_cells_mp", q101SemanticCellsMp _, q101Sql))
}
