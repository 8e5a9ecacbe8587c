package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.VectorFunctions._
import graft.queries.Kpis

/** IVF+PQ ANN — the full production index shape, composing the engine's
  * two index halves: q33's inverted-file cells bound how much of the
  * corpus a query touches, and q64's product-quantization codebooks make
  * the in-cell ranking a code-table lookup instead of a vector scan
  * (asymmetric distance computation, ADC). Query path: rank cells by
  * centroid cosine → probe the best nprobe cells → approximate-rank the
  * candidates by summed per-subspace code distances (codes + 4 tiny
  * lookup tables; NO embedding fetch) → fetch embeddings for only the
  * shortlist → exact cosine re-rank → top-k.
  *
  * Why this matters at 100 TB: brute force touches every vector; IVF
  * alone touches nprobe/cells of the corpus but still ships full vectors
  * to compare; IVF+PQ ships 4 small ints per candidate and reads real
  * vectors only for shortlist×|Q| rows. Every stage here is an equi-join
  * or a broadcast of a provably-tiny table (16 cell centroids, 4-row
  * codebooks, 20-row ADC tables).
  *
  * Cross-engine parity: cell centroids and codebooks use the rounded-mean
  * grid (q33/q60), every distance is the bit-exact (n2 + cn2) − 2·dot
  * spelling, ADC sums are fixed-order, and all ranks tie-break on ids —
  * so the DuckDB replay (cells + four Lloyd CTE chains + the same
  * lookup-join) hash-matches exactly.
  */
object IvfPq {

  private val Dim = 64
  private val NSub = 4
  private val SubDim = 16
  private val KCodes = 4
  private val NCellPlanes = 4
  private val NProbe = 4
  private val Shortlist = 10
  private val TopK = 5

  // ---------------------------------------------------------------- q66
  def q66IvfPq(spark: SparkSession, dir: String): DataFrame = {
    val planes = hyperplanes(NCellPlanes, Dim, seed = 7L) // q33's quantizer
    val e = Kpis.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        norm2(col("embedding")).as("n2"))
      .withColumn("cell", lshSignature(col("embedding"), planes))

    // IVF cell centroids (q33's rounded element-wise mean convention)
    val cellCent = e
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(round(avg(col("v")), 6).as("cv"))
      .groupBy(col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("cv")))),
        s => s.getField("cv")).as("centroid"))
      .withColumn("cn2", norm2(col("centroid")))

    // PQ codebooks (k-means per subspace) + per-vector codes
    val subEs = (0 until NSub).map { s =>
      Kpis.table(spark, dir, "embeddings")
        .select(col("vec_id"),
          slice(col("embedding"), s * SubDim + 1, SubDim).as("embedding"))
        .withColumn("n2", norm2(col("embedding")))
    }
    val codebooks = subEs.map(es => KMeans.lloydCentroids(es, KCodes, 1))
    val codes = subEs.zip(codebooks).zipWithIndex.map {
      case ((es, cb), s) =>
        KMeans.assign(es, cb)
          .select(col("vec_id"), col("cluster").as(s"code_$s"))
    }.reduce(_.join(_, "vec_id"))

    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("qe"), col("n2").as("qn2"))

    // probe the NProbe best cells per query by centroid cosine
    val wCell = Window.partitionBy(col("query_id"))
      .orderBy(col("c_sim").desc, col("cell"))
    val probed = q.crossJoin(broadcast(cellCent))
      .withColumn("c_sim",
        dotD(col("qe"), col("centroid")) /
          (sqrt(col("qn2")) * sqrt(col("cn2"))))
      .withColumn("c_rank", row_number().over(wCell))
      .filter(col("c_rank") <= NProbe)
      .select(col("query_id"), col("cell"))

    // ADC tables: per (query, subspace, code) the exact partial distance
    // between the query's subvector and the codebook centroid
    val dtabs = codebooks.zipWithIndex.map { case (cb, s) =>
      q.select(col("query_id"),
          slice(col("qe"), s * SubDim + 1, SubDim).as("qs"))
        .withColumn("qs2", norm2(col("qs")))
        .crossJoin(broadcast(cb))
        .select(col("query_id"), col("cluster").as(s"code_$s"),
          ((col("qs2") + col("cn2")) -
            lit(2.0) * dotD(col("qs"), col("centroid"))).as(s"pd_$s"))
    }

    // candidates: SKINNY (query, neighbor) ids from the probed cells —
    // the ADC rank never touches an embedding
    val cand = probed
      .join(e.select(col("vec_id").as("neighbor_id"), col("cell")), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
    val approx = dtabs.foldLeft(
        cand.join(codes.withColumnRenamed("vec_id", "neighbor_id"),
          "neighbor_id")) { (df, dt) =>
        df.join(broadcast(dt), Seq("query_id", dt.columns(1)))
      }
      .withColumn("approx_d2",
        ((col("pd_0") + col("pd_1")) + col("pd_2")) + col("pd_3"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_d2"), col("neighbor_id"))
    val shortlist = approx
      .withColumn("a_rank", row_number().over(wA))
      .filter(col("a_rank") <= Shortlist)
      .select(col("query_id"), col("neighbor_id"))

    // exact re-rank: fetch embeddings for the shortlist ONLY
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    shortlist
      .join(e.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ne"), col("n2").as("nn2")), "neighbor_id")
      .join(q, "query_id")
      .withColumn("cos_sim",
        dotD(col("qe"), col("ne")) / (sqrt(col("qn2")) * sqrt(col("nn2"))))
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"),
        col("rank"))
      .orderBy("query_id", "rank")
  }

  val q66Sql: String = {
    val cell = sigSqlLit("embedding", hyperplanes(NCellPlanes, Dim, seed = 7L))
    val centroidList = (1 to Dim)
      .map(i => s"round(avg(CAST(embedding[$i] AS DOUBLE)), 6)")
      .mkString("[", ", ", "]")
    val chains = (0 until NSub).map { s =>
      KMeans.lloydSqlCtes(
        s"SELECT vec_id, embedding[${s * SubDim + 1}:${s * SubDim + SubDim}] AS embedding FROM embeddings",
        dim = SubDim, k = KCodes, iters = 1, p = s"s$s")
    }
    val codeJoin = (0 until NSub).map(s =>
      s"JOIN ${chains(s)._2} s$s ON cand.neighbor_id = s$s.vec_id")
      .mkString("\n")
    val dtabCtes = (0 until NSub).map { s =>
      val o = s * SubDim
      s"""qs$s AS (
        |  SELECT query_id, qe[${o + 1}:${o + SubDim}] AS qs FROM q),
        |dt$s AS (
        |  SELECT query_id, cluster AS code_$s,
        |    ((${dotSqlUnrolled("qs", "qs", SubDim)}) + cn2)
        |      - 2 * (${dotSqlUnrolled("qs", "centroid", SubDim)}) AS pd_$s
        |  FROM qs$s, s${s}_c1)""".stripMargin
    }.mkString(",\n")
    val dtabJoin = (0 until NSub).map(s =>
      s"JOIN dt$s ON wc.query_id = dt$s.query_id AND wc.code_$s = dt$s.code_$s")
      .mkString("\n")
    s"""WITH e AS (
      |  SELECT vec_id, embedding,
      |    ${dotSqlUnrolled("embedding", "embedding", Dim)} AS n2,
      |    ($cell) AS cell
      |  FROM embeddings),
      |cent AS (
      |  SELECT cell, $centroidList AS centroid
      |  FROM e GROUP BY cell),
      |cent2 AS (
      |  SELECT cell, centroid,
      |    ${dotSqlUnrolled("centroid", "centroid", Dim)} AS cn2
      |  FROM cent),
      |${chains.map(_._1).mkString(",\n")},
      |q AS (
      |  SELECT vec_id AS query_id, embedding AS qe, n2 AS qn2
      |  FROM e WHERE vec_id < 5),
      |pr AS (
      |  SELECT query_id, cell,
      |    row_number() OVER (PARTITION BY query_id ORDER BY
      |      (${dotSqlUnrolled("qe", "centroid", Dim)}) / (sqrt(qn2) * sqrt(cn2)) DESC,
      |      cell) AS c_rank
      |  FROM q, cent2),
      |probed AS (SELECT query_id, cell FROM pr WHERE c_rank <= $NProbe),
      |$dtabCtes,
      |cand AS (
      |  SELECT probed.query_id, e.vec_id AS neighbor_id
      |  FROM probed JOIN e ON probed.cell = e.cell
      |  WHERE e.vec_id != probed.query_id),
      |wc AS (
      |  SELECT cand.query_id, cand.neighbor_id,
      |    ${(0 until NSub).map(s => s"s$s.cluster AS code_$s").mkString(", ")}
      |  FROM cand
      |$codeJoin),
      |approx AS (
      |  SELECT wc.query_id, wc.neighbor_id,
      |    ((dt0.pd_0 + dt1.pd_1) + dt2.pd_2) + dt3.pd_3 AS approx_d2
      |  FROM wc
      |$dtabJoin),
      |short AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY query_id ORDER BY approx_d2, neighbor_id) AS a_rank
      |    FROM approx) WHERE a_rank <= $Shortlist),
      |rr AS (
      |  SELECT short.query_id, short.neighbor_id,
      |    (${dotSqlUnrolled("q.qe", "ne.embedding", Dim)})
      |      / (sqrt(q.qn2) * sqrt(ne.n2)) AS cos_sim
      |  FROM short
      |  JOIN e ne ON short.neighbor_id = ne.vec_id
      |  JOIN q ON short.query_id = q.query_id),
      |ranked AS (
      |  SELECT *, CAST(row_number() OVER (
      |    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id)
      |    AS INTEGER) AS rank
      |  FROM rr)
      |SELECT query_id, neighbor_id, cos_sim, rank
      |FROM ranked WHERE rank <= $TopK
      |ORDER BY query_id, rank""".stripMargin
  }

  def queries: Seq[Query] = Seq(
    Query("q66_ivf_pq", q66IvfPq _, q66Sql))
}
