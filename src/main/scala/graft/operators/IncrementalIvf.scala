package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.VectorFunctions._
import graft.queries.Kpis

/** Incremental IVF/PQ index maintenance (VERDICT r11 #5): append a new
  * embedding batch into an EXISTING index without retraining anything.
  *
  * A production corpus re-indexes continuously; rebuilding q66's
  * centroids + codebooks per batch is a full corpus pass. This operator
  * splits the index into its FROZEN and APPENDABLE halves:
  *
  *   frozen (functions of batch 1 only, never touched by an append):
  *     - IVF cell ids — sign-LSH signatures with plan-time hyperplanes,
  *       data-independent, so new vectors cell-assign with zero training;
  *     - cell centroids for probe ranking — batch-1 member means;
  *     - PQ codebooks — Lloyd's trained on batch-1 subspaces.
  *   appendable (one row per new vector, O(|batch|) to extend):
  *     - the cell membership list;
  *     - the PQ code table — new vectors encode against the frozen
  *       codebooks via a broadcast nearest-centroid assign.
  *
  * q153 proves the maintained index WORKS across batches, mirroring
  * q94's two-batch discipline (`IncrementalDedup`): batch 1 is
  * `vec_id % 5 != 0` (the indexed corpus), batch 2 is `vec_id % 5 == 0`
  * (the append); the membership and code tables are each a UNION of the
  * batch-1 table and the batch-2 increment — the plan's union IS the
  * append, nothing upstream of it recomputes batch 1's index — and the
  * probes are BATCH-2 vectors whose top-k must surface batch-1
  * neighbors (`from_batch` = 1 rows in the output) through the frozen
  * probe → ADC → shortlist → exact re-rank path of q66.
  *
  * Scale posture: per append batch the new work is |batch| signature
  * evaluations + |batch| × (k·nsub) broadcast code assigns + the union
  * metadata — no corpus-sized job anywhere; probe cost is unchanged
  * from q66 (measured 9.2× at 10×, SCALE_NOTES_r09).
  *
  * The oracle replays the same split: codebook CTE chains trained on the
  * batch-1 filter only, an extra per-subspace CTE assigning EVERY vector
  * against those frozen centroids, and the identical probe pipeline —
  * so the hash match certifies that the incrementally-encoded batch-2
  * rows rank exactly as a from-scratch encode of the merged corpus
  * would (same frozen codebooks), including the cross-batch recalls. */
object IncrementalIvf {

  private val Dim = 64
  private val NSub = 4
  private val SubDim = 16
  private val KCodes = 4
  private val NCellPlanes = 4
  private val NProbe = 4
  private val Shortlist = 10
  private val TopK = 5
  /** Batch split modulus: batch 1 = vec_id % 5 != 0 (80%, the indexed
    * corpus), batch 2 = vec_id % 5 == 0 (20%, the append). */
  private val Mod = 5

  // --------------------------------------------------------------- q153
  def q153IvfAppend(spark: SparkSession, dir: String): DataFrame = {
    val planes = hyperplanes(NCellPlanes, Dim, seed = 7L) // q66's quantizer
    val all = Kpis.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        norm2(col("embedding")).as("n2"))
      .withColumn("cell", lshSignature(col("embedding"), planes))
    val b1 = all.filter(col("vec_id") % Mod =!= 0)
    val b2 = all.filter(col("vec_id") % Mod === 0)

    // FROZEN: cell centroids from batch-1 members only (q66 convention)
    val cellCent = b1
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(round(avg(col("v")), 6).as("cv"))
      .groupBy(col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("cv")))),
        s => s.getField("cv")).as("centroid"))
      .withColumn("cn2", norm2(col("centroid")))

    // FROZEN: PQ codebooks trained on batch-1 subspaces only
    def slices(src: DataFrame, s: Int): DataFrame = src
      .select(col("vec_id"),
        slice(col("embedding"), s * SubDim + 1, SubDim).as("embedding"))
      .withColumn("n2", norm2(col("embedding")))
    val codebooks = (0 until NSub).map(s =>
      KMeans.lloydCentroids(slices(b1, s), KCodes, iters = 1))

    // APPEND: batch-2 codes from a broadcast assign against the frozen
    // codebooks, unioned under the batch-1 code table — the union IS the
    // index maintenance; batch 1's codes are untouched by the append
    val codes = (0 until NSub).map { s =>
      KMeans.assign(slices(b1, s), codebooks(s))
        .unionByName(KMeans.assign(slices(b2, s), codebooks(s)))
        .select(col("vec_id"), col("cluster").as(s"code_$s"))
    }.reduce(_.join(_, "vec_id"))
    val members = b1.select(col("vec_id"), col("cell"))
      .unionByName(b2.select(col("vec_id"), col("cell")))

    // probes: batch-2 vectors — the appended rows must find batch-1
    // neighbors through the frozen index
    val q = b2.filter(col("vec_id") < 5 * Mod)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("qe"), col("n2").as("qn2"))

    val wCell = Window.partitionBy(col("query_id"))
      .orderBy(col("c_sim").desc, col("cell"))
    val probed = q.crossJoin(broadcast(cellCent))
      .withColumn("c_sim",
        dotD(col("qe"), col("centroid")) /
          (sqrt(col("qn2")) * sqrt(col("cn2"))))
      .withColumn("c_rank", row_number().over(wCell))
      .filter(col("c_rank") <= NProbe)
      .select(col("query_id"), col("cell"))

    val dtabs = codebooks.zipWithIndex.map { case (cb, s) =>
      q.select(col("query_id"),
          slice(col("qe"), s * SubDim + 1, SubDim).as("qs"))
        .withColumn("qs2", norm2(col("qs")))
        .crossJoin(broadcast(cb))
        .select(col("query_id"), col("cluster").as(s"code_$s"),
          ((col("qs2") + col("cn2")) -
            lit(2.0) * dotD(col("qs"), col("centroid"))).as(s"pd_$s"))
    }

    val cand = probed
      .join(members.withColumnRenamed("vec_id", "neighbor_id"), "cell")
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

    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    shortlist
      .join(all.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ne"), col("n2").as("nn2")), "neighbor_id")
      .join(q, "query_id")
      .withColumn("cos_sim",
        dotD(col("qe"), col("ne")) / (sqrt(col("qn2")) * sqrt(col("nn2"))))
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= TopK)
      .withColumn("from_batch",
        when(col("neighbor_id") % Mod === 0, 2).otherwise(1).cast("int"))
      .select(col("query_id"), col("neighbor_id"), col("from_batch"),
        col("cos_sim"), col("rank"))
      .orderBy("query_id", "rank")
  }

  val q153Sql: String = {
    val cell = sigSqlLit("embedding", hyperplanes(NCellPlanes, Dim, seed = 7L))
    val centroidList = (1 to Dim)
      .map(i => s"round(avg(CAST(embedding[$i] AS DOUBLE)), 6)")
      .mkString("[", ", ", "]")
    // codebooks train on the BATCH-1 slice sources only
    val chains = (0 until NSub).map { s =>
      KMeans.lloydSqlCtes(
        s"SELECT vec_id, embedding[${s * SubDim + 1}:${s * SubDim + SubDim}] AS embedding " +
          s"FROM embeddings WHERE vec_id % $Mod != 0",
        dim = SubDim, k = KCodes, iters = 1, p = s"s$s")
    }
    // the APPENDED code table: EVERY vector (both batches) assigned
    // against the frozen final centroids s{s}_c1 — the SQL twin of
    // assign(b1)∪assign(b2)
    val allCodeCtes = (0 until NSub).map { s =>
      val o = s * SubDim
      s"""s${s}_ae AS (
        |  SELECT vec_id, embedding,
        |    ${dotSqlUnrolled("embedding", "embedding", SubDim)} AS n2
        |  FROM (SELECT vec_id, embedding[${o + 1}:${o + SubDim}] AS embedding
        |        FROM embeddings)),
        |s${s}_code AS (
        |  SELECT vec_id, cluster AS code_$s FROM (
        |    SELECT e.vec_id, c.cluster,
        |      row_number() OVER (
        |        PARTITION BY e.vec_id
        |        ORDER BY (e.n2 + c.cn2) - 2 * (${dotSqlUnrolled("e.embedding", "c.centroid", SubDim)}), c.cluster
        |      ) AS rn
        |    FROM s${s}_ae e, s${s}_c1 c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val codeJoin = (0 until NSub).map(s =>
      s"JOIN s${s}_code ON cand.neighbor_id = s${s}_code.vec_id")
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
      |b1 AS (SELECT * FROM e WHERE vec_id % $Mod != 0),
      |cent AS (
      |  SELECT cell, $centroidList AS centroid
      |  FROM b1 GROUP BY cell),
      |cent2 AS (
      |  SELECT cell, centroid,
      |    ${dotSqlUnrolled("centroid", "centroid", Dim)} AS cn2
      |  FROM cent),
      |${chains.map(_._1).mkString(",\n")},
      |$allCodeCtes,
      |q AS (
      |  SELECT vec_id AS query_id, embedding AS qe, n2 AS qn2
      |  FROM e WHERE vec_id % $Mod = 0 AND vec_id < ${5 * Mod}),
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
      |    ${(0 until NSub).map(s => s"s${s}_code.code_$s").mkString(", ")}
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
      |SELECT query_id, neighbor_id,
      |  CAST(CASE WHEN neighbor_id % $Mod = 0 THEN 2 ELSE 1 END AS INTEGER)
      |    AS from_batch,
      |  cos_sim, rank
      |FROM ranked WHERE rank <= $TopK
      |ORDER BY query_id, rank""".stripMargin
  }

  def queries: Seq[Query] = Seq(
    Query("q153_ivf_append", q153IvfAppend _, q153Sql))
}
