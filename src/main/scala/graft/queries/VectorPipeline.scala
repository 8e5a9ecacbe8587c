package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.VectorFunctions._
import graft.operators.KMeans

/** q275: the END-TO-END vector-store build pipeline — the embedding-side
  * twin of q154's curation ledger, certifying that the library's vector
  * operators COMPOSE:
  *
  *   ingest (dup-injected corpus) → exact vector dedup (group on the
  *   full embedding, keep-min id) → degenerate-vector gate (‖v‖² > 0) →
  *   IVF cell assignment ([[KMeans.lloyd]], k = 8, 1 round — q33's
  *   machinery) → PQ encode (4 × 16-dim subspace codebooks, q64's
  *   machinery) → probe smoke test (the 20 smallest ids probe their
  *   top-1 cell; candidate rows counted).
  *
  * The registered OUTPUT is the per-stage row LEDGER (stage_no, stage,
  * rows_in, rows_out) — all-integer, so any drift in any composed
  * operator (a changed centroid, a lost vector, a cell that swallows
  * the corpus) breaks the hash. The DuckDB oracle replays all six
  * stages in one WITH chain, reusing [[KMeans.lloydSqlCtes]] for the
  * IVF and all four PQ subspace trainings (five Lloyd chains in one
  * statement).
  *
  * Scale shape: each stage is the standalone operator's plan — hash
  * aggs, broadcast k-row centroid joins, id-equi-joins — composed
  * through eager barriers (`localCheckpoint`, the q154 convention) so
  * ledger counts rescan cached stage outputs. The probe stage is the
  * q33 shape: queries × k centroids broadcast, then a cell equi-join —
  * never an all-pairs product. At 100 TB each barrier is a staged
  * table, exactly how an embedding-index build pipelines its hops. */
object VectorPipeline {

  // --------------------------------------------------------------- q275
  def q275VectorStoreLedger(spark: SparkSession, dir: String): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    val d = Kpis.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))

    // stage 0 — ingest with injected exact-duplicate vectors
    val s0 = d
      .unionAll(d.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + 100000))
      .repartition(par, col("vec_id"))
      .localCheckpoint(true)

    // stage 1 — exact vector dedup: group on the embedding itself,
    // keep the smallest id (the q19 fingerprint discipline, but the
    // KEY IS THE VECTOR — bitwise float equality in both engines)
    val s1 = s0
      .join(s0.groupBy(col("embedding"))
        .agg(min(col("vec_id")).as("keep_id")), Seq("embedding"))
      .filter(col("vec_id") === col("keep_id"))
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint(true)

    // stage 2 — degenerate gate: a zero vector has no direction; it
    // would NaN every cosine downstream
    val s2 = s1
      .withColumn("n2", norm2(col("embedding")))
      .filter(col("n2") > 0)
      .localCheckpoint(true)

    // stage 3 — IVF cell assignment (k = 8, one update round)
    val ivf = KMeans.lloyd(s2, k = 8, iters = 1)
      .select(col("vec_id"), col("cluster"))
      .localCheckpoint(true)

    // stage 4 — PQ encode: independent 16-dim subspace codebooks
    val pq = (0 until 4).map { s =>
      val es = s2.select(col("vec_id"),
        slice(col("embedding"), s * 16 + 1, 16).as("embedding"))
        .withColumn("n2", norm2(col("embedding")))
      KMeans.lloyd(es, k = 4, iters = 1)
        .select(col("vec_id"), col("cluster").as(s"code_$s"))
    }.reduce(_.join(_, "vec_id")).localCheckpoint(true)

    // stage 5 — probe smoke: the 20 smallest ids fetch their own cell's
    // members (top-1 probe of an in-corpus query IS its cell)
    val q20 = ivf.orderBy("vec_id").limit(20)
      .select(col("vec_id").as("q_id"), col("cluster"))
    val cand = q20
      .join(ivf.select(col("vec_id").as("c_id"), col("cluster")), "cluster")
      .filter(col("q_id") =!= col("c_id"))
      .localCheckpoint(true)

    val stages = Seq(
      (0, "ingest", d, s0), (1, "exact_dedup", s0, s1),
      (2, "norm_gate", s1, s2), (3, "ivf_assign", s2, ivf),
      (4, "pq_encode", s2, pq), (5, "probe_smoke", s2, cand))
    stages.map { case (no, nm, prev, cur) =>
      prev.agg(count(lit(1)).as("rows_in"))
        .crossJoin(cur.agg(count(lit(1)).as("rows_out")))
        .select(lit(no).as("stage_no"), lit(nm).as("stage"),
          col("rows_in"), col("rows_out"))
    }.reduce(_.unionAll(_)).orderBy("stage_no")
  }

  val q275Sql: String = {
    val n2 = dotSqlUnrolled("embedding", "embedding", 64)
    val (ivfChain, ivfOut) = KMeans.lloydSqlCtes(
      "SELECT vec_id, embedding FROM s2", dim = 64, k = 8, iters = 1,
      p = "ivf")
    val pqChains = (0 until 4).map { s =>
      KMeans.lloydSqlCtes(
        s"SELECT vec_id, embedding[${s * 16 + 1}:${s * 16 + 16}] AS embedding FROM s2",
        dim = 16, k = 4, iters = 1, p = s"pq$s")
    }
    val Seq(p0, p1, p2, p3) = pqChains.map(_._2).toSeq
    s"""WITH d AS (SELECT vec_id, embedding FROM embeddings),
      |s0 AS (
      |  SELECT vec_id, embedding FROM d
      |  UNION ALL
      |  SELECT vec_id + 100000, embedding FROM d WHERE vec_id % 10 = 0),
      |s1 AS (
      |  SELECT s0.vec_id, s0.embedding
      |  FROM s0 JOIN (SELECT embedding, MIN(vec_id) AS keep_id
      |                FROM s0 GROUP BY embedding) k
      |    ON s0.embedding = k.embedding AND s0.vec_id = k.keep_id),
      |s2 AS (SELECT vec_id, embedding FROM s1 WHERE ($n2) > 0),
      |$ivfChain,
      |${pqChains.map(_._1).mkString(",\n")},
      |pq AS (
      |  SELECT a.vec_id FROM $p0 a
      |  JOIN $p1 b ON a.vec_id = b.vec_id
      |  JOIN $p2 c ON a.vec_id = c.vec_id
      |  JOIN $p3 e ON a.vec_id = e.vec_id),
      |q20 AS (
      |  SELECT vec_id AS q_id, cluster FROM $ivfOut
      |  ORDER BY vec_id LIMIT 20),
      |cand AS (
      |  SELECT q_id, c.vec_id AS c_id
      |  FROM q20 JOIN $ivfOut c USING (cluster)
      |  WHERE c.vec_id != q_id)
      |SELECT 0 AS stage_no, 'ingest' AS stage,
      |  (SELECT COUNT(*) FROM d) AS rows_in,
      |  (SELECT COUNT(*) FROM s0) AS rows_out
      |UNION ALL SELECT 1, 'exact_dedup',
      |  (SELECT COUNT(*) FROM s0), (SELECT COUNT(*) FROM s1)
      |UNION ALL SELECT 2, 'norm_gate',
      |  (SELECT COUNT(*) FROM s1), (SELECT COUNT(*) FROM s2)
      |UNION ALL SELECT 3, 'ivf_assign',
      |  (SELECT COUNT(*) FROM s2), (SELECT COUNT(*) FROM $ivfOut)
      |UNION ALL SELECT 4, 'pq_encode',
      |  (SELECT COUNT(*) FROM s2), (SELECT COUNT(*) FROM pq)
      |UNION ALL SELECT 5, 'probe_smoke',
      |  (SELECT COUNT(*) FROM s2), (SELECT COUNT(*) FROM cand)
      |ORDER BY stage_no""".stripMargin
  }

  def queries: Seq[Query] = Seq(
    Query("q275_vector_store_ledger", q275VectorStoreLedger _, q275Sql))
}
