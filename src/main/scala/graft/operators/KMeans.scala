package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.VectorFunctions._
import graft.queries.Kpis

/** Lloyd's k-means over the embeddings table — the clustering step a
  * training-data pipeline runs for domain discovery, diversity sampling,
  * and (at scale) training the coarse quantizer that q33's IVF index
  * assumes as given ("a k-means quantizer would slot in identically",
  * EmbedQueries q33). Deterministic throughout: init is the first k
  * vectors by vec_id, assignment ties break on cluster id, and centroid
  * components round to 6 dp (the q33 centroid convention), so a fixed
  * iteration count replays bit-exactly in DuckDB as unrolled CTEs.
  *
  * Scale shape per iteration: the centroid table is k×dim (always
  * broadcast); assignment is a broadcast product + map-side-combined
  * min(struct) agg — one shuffle of one row per vector; the update is a
  * posexplode + two-level hash agg — one shuffle of k×dim rows. No
  * windows over the corpus, no driver collects; rounds are a fixed
  * constant, not data-dependent (production k-means iterates to a
  * tolerance — same plan per round, a convergence check on the tiny
  * centroid table as the loop guard).
  */
object KMeans {

  private val Dim = 64

  /** (vec_id, embedding, n2) with n2 the exact left-fold self-dot. */
  private def emb(spark: SparkSession, dir: String): DataFrame =
    Kpis.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        norm2(col("embedding")).as("n2"))

  /** Squared L2 distance, spelled (n2 + cn2) - 2*dot in BOTH engines so
    * the doubles are bit-identical and argmin ordering agrees. */
  private def dist2(cn2: Column, dot: Column, n2: Column): Column =
    (n2 + cn2) - lit(2.0) * dot

  /** Nearest-centroid assignment: broadcast the k-row centroid table,
    * fold the k candidates per vector with a map-side-combined
    * min(struct(dist2, cluster)) — the (dist2, cluster) lexicographic min
    * IS the deterministic argmin. */
  private[graft] def assign(e: DataFrame, cent: DataFrame): DataFrame =
    e.crossJoin(broadcast(cent))
      .withColumn("d2",
        dist2(col("cn2"), dotD(col("embedding"), col("centroid")),
          col("n2")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cluster"))).as("m"))
      .select(col("vec_id"), col("m.cluster").as("cluster"),
        col("m.d2").as("d2"))

  /** Top-`probes` nearest centroids per vector — multi-probe assignment
    * for cell-partitioned similarity search/dedup (the standard
    * mitigation for pairs straddling a cell boundary). The window
    * partitions per vector over k candidate rows (bounded by k, never by
    * the corpus), ordered by the same (d2, cluster) lexicographic key as
    * [[assign]]'s argmin, so probe 1 IS the [[assign]] cell. */
  private[graft] def assignTop(e: DataFrame, cent: DataFrame,
                               probes: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("d2"), col("cluster"))
    e.crossJoin(broadcast(cent))
      .withColumn("d2",
        dist2(col("cn2"), dotD(col("embedding"), col("centroid")),
          col("n2")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= probes)
      .select(col("vec_id"), col("cluster"), col("d2"), col("rn"))
  }

  /** Per-cluster element-wise mean centroid, each component rounded to
    * 6 dp (q33's cross-engine grid), reassembled in dimension order.
    * Clusters that lose every member drop out — k shrinks, consistently
    * in both engines. */
  private def update(e: DataFrame, asg: DataFrame): DataFrame =
    asg.join(e, "vec_id")
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cluster"), col("pos"))
      .agg(round(avg(col("v").cast("double")), 6).as("cv"))
      .groupBy(col("cluster"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("cv")))),
        s => s.getField("cv")).as("centroid"))
      .withColumn("cn2", norm2(col("centroid")))

  /** The trained codebook: `iters` update rounds from the deterministic
    * first-k init — the k SMALLEST vec_ids (distributed top-k via
    * TakeOrderedAndProject, not `vec_id < k`, so sparse or offset id
    * spaces still seed exactly k centroids). (cluster, centroid, cn2) —
    * k rows, always broadcast-sized.
    *
    * Iteration hygiene (the PageRank treatment, round 9): every
    * `checkpointEveryK` rounds the k-row centroid frame is eagerly
    * localCheckpoint-ed, truncating lineage — without it each round's
    * plan nests the previous round's, and analysis cost/driver stack
    * depth grow without bound (fine at the registered iters ≤ 2, a
    * plan-depth bomb at production iters = 20+). The checkpointed frame
    * is k×(dim+2) values — materializing it is trivia next to the
    * corpus pass each round already does. The LAST round stays lazy so
    * callers' plans remain auditable end to end; on real clusters
    * prefer `spark.sparkContext.setCheckpointDir` + `.checkpoint` for
    * executor-loss resilience (same shape, reliable storage). */
  def lloydCentroids(e: DataFrame, k: Int, iters: Int,
                     checkpointEveryK: Int = 5): DataFrame = {
    val init = e.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cluster"),
        transform(col("embedding"), v => v.cast("double")).as("centroid"))
      .withColumn("cn2", norm2(col("centroid")))
    (1 to iters).foldLeft(init) { (c, t) =>
      val next = update(e, assign(e, c))
      // checkpointEveryK <= 0 disables checkpointing (no modulo-zero trap)
      if (checkpointEveryK > 0 && t % checkpointEveryK == 0 && t < iters)
        next.localCheckpoint(true)
      else next
    }
  }

  /** `iters` update rounds from the deterministic init, then a final
    * assignment against the last centroids. */
  def lloyd(e: DataFrame, k: Int, iters: Int): DataFrame =
    assign(e, lloydCentroids(e, k, iters))

  // ---------------------------------------------------------------- q60
  /** k=8, two update rounds, per-vector assignment with the final squared
    * distance rounded to 6 dp for the cross-engine hash. `+ 0.0`: d2 is
    * non-negative mathematically, but the (n2 + cn2) - 2·dot spelling can
    * cancel to a TINY NEGATIVE double (vector ≈ its rounded centroid),
    * which rounds to sign-split zero — the README negative-zero rule. */
  def q60Kmeans(spark: SparkSession, dir: String): DataFrame =
    lloyd(emb(spark, dir), k = 8, iters = 2)
      .select(col("vec_id"), col("cluster"),
        (round(col("d2"), 6) + lit(0.0)).as("d2"))
      .orderBy("vec_id")

  /** DuckDB replay of [[lloyd]] as a reusable CTE chain. `srcSelect` must
    * emit (vec_id, embedding[`dim`]); every CTE is prefixed `p_` so
    * several chains (e.g. one per PQ subspace) compose in one statement.
    * Returns (cteChainSql, finalAssignmentCteName). */
  def lloydSqlCtes(srcSelect: String, dim: Int, k: Int, iters: Int,
                   p: String): (String, String) = {
    val centroidList = (1 to dim)
      .map(i => s"round(avg(CAST(embedding[$i] AS DOUBLE)), 6)")
      .mkString("[", ", ", "]")
    val initList = (1 to dim)
      .map(i => s"CAST(embedding[$i] AS DOUBLE)")
      .mkString("[", ", ", "]")
    def assignCte(name: String, centCte: String) =
      s"""$name AS (
        |  SELECT vec_id, cluster, d2 FROM (
        |    SELECT e.vec_id, c.cluster,
        |      (e.n2 + c.cn2) - 2 * (${dotSqlUnrolled("e.embedding", "c.centroid", dim)}) AS d2,
        |      row_number() OVER (
        |        PARTITION BY e.vec_id
        |        ORDER BY (e.n2 + c.cn2) - 2 * (${dotSqlUnrolled("e.embedding", "c.centroid", dim)}), c.cluster
        |      ) AS rn
        |    FROM ${p}_e e, $centCte c) WHERE rn = 1)""".stripMargin
    def updateCte(name: String, asgCte: String) =
      s"""${name}p AS (
        |  SELECT cluster, $centroidList AS centroid
        |  FROM $asgCte JOIN ${p}_e USING (vec_id) GROUP BY cluster),
        |$name AS (
        |  SELECT cluster, centroid,
        |    ${dotSqlUnrolled("centroid", "centroid", dim)} AS cn2
        |  FROM ${name}p)""".stripMargin
    val rounds = (1 to iters).map(t =>
      s"""${assignCte(s"${p}_a${t - 1}", s"${p}_c${t - 1}")},
        |${updateCte(s"${p}_c$t", s"${p}_a${t - 1}")}""".stripMargin)
    val chain =
      s"""${p}_e AS (
        |  SELECT vec_id, embedding,
        |    ${dotSqlUnrolled("embedding", "embedding", dim)} AS n2
        |  FROM ($srcSelect)),
        |${p}_c0 AS (
        |  SELECT vec_id AS cluster, $initList AS centroid,
        |    ${dotSqlUnrolled("embedding", "embedding", dim)} AS cn2
        |  FROM (SELECT * FROM ${p}_e ORDER BY vec_id LIMIT $k)),
        |${rounds.mkString(",\n")},
        |${assignCte(s"${p}_a$iters", s"${p}_c$iters")}""".stripMargin
    (chain, s"${p}_a$iters")
  }

  val q60Sql: String = {
    val (chain, out) = lloydSqlCtes(
      "SELECT vec_id, embedding FROM embeddings", Dim, k = 8, iters = 2,
      p = "km")
    s"""WITH $chain
      |SELECT vec_id, cluster, round(d2, 6) + 0.0 AS d2
      |FROM $out ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- q64
  /** Product quantization — the memory-side scale technique IVF (q33)
    * pairs with in a production ANN index: split each vector into 4
    * subspaces of 16 dims, run [[lloyd]] independently per subspace
    * (k = 4, one update round), and compress every vector to 4 codebook
    * ids (4 × 2 bits here; 4 × 8 bits at production k=256 — same plan)
    * plus its total squared quantization error. 64 floats → one small
    * code: the candidate set of a 100 TB ANN scan fits in memory and
    * distance estimation becomes 4 table lookups.
    *
    * Scale shape: the 4 subspace trainings are independent narrow plans
    * over SLICED vectors (each ships 1/4 of the data through k-means);
    * the final join is vec_id-to-vec_id on k-row-wide outputs. The
    * codebooks themselves are 4 × k × 16 doubles — always broadcast.
    */
  def q64PqCodes(spark: SparkSession, dir: String): DataFrame = {
    val base = Kpis.table(spark, dir, "embeddings")
    val parts = (0 until 4).map { s =>
      val es = base.select(col("vec_id"),
        slice(col("embedding"), s * 16 + 1, 16).as("embedding"))
        .withColumn("n2", norm2(col("embedding")))
      lloyd(es, k = 4, iters = 1)
        .select(col("vec_id"), col("cluster").as(s"code_$s"),
          col("d2").as(s"d2_$s"))
    }
    parts.reduce(_.join(_, "vec_id"))
      .select(col("vec_id"),
        col("code_0"), col("code_1"), col("code_2"), col("code_3"),
        // + 0.0: each subspace d2 can cancel tiny-negative (q60's hazard)
        (round(((col("d2_0") + col("d2_1")) + col("d2_2")) + col("d2_3"), 6)
          + lit(0.0)).as("sq_err"))
      .orderBy("vec_id")
  }

  val q64Sql: String = {
    val chains = (0 until 4).map { s =>
      lloydSqlCtes(
        s"SELECT vec_id, embedding[${s * 16 + 1}:${s * 16 + 16}] AS embedding FROM embeddings",
        dim = 16, k = 4, iters = 1, p = s"s$s")
    }
    val Seq(o0, o1, o2, o3) = chains.map(_._2).toSeq
    s"""WITH ${chains.map(_._1).mkString(",\n")}
      |SELECT s0.vec_id,
      |  s0.cluster AS code_0, s1.cluster AS code_1,
      |  s2.cluster AS code_2, s3.cluster AS code_3,
      |  round(((s0.d2 + s1.d2) + s2.d2) + s3.d2, 6) + 0.0 AS sq_err
      |FROM $o0 s0
      |JOIN $o1 s1 ON s0.vec_id = s1.vec_id
      |JOIN $o2 s2 ON s0.vec_id = s2.vec_id
      |JOIN $o3 s3 ON s0.vec_id = s3.vec_id
      |ORDER BY s0.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- q272
  /** PQ codebook-utilization audit: per subspace, the entropy of the
    * code-usage histogram from q64's codes, the effective codebook
    * e^H/k (1.0 = all k codes carry equal load), and the share of the
    * single most-used code. The index-health metric PQ deployments
    * watch alongside q163's recall: a subspace whose codes collapse
    * onto one centroid (utilization → 1/k, top share → 1) contributes
    * ~zero bits to the distance estimate — recall degrades with no
    * error in the code path, and the fix is retraining that subspace's
    * codebook, which THIS census localizes.
    *
    * Exactness: code assignments are q64's hash-certified Lloyd's
    * output; histogram counts are exact; entropy is the q137
    * count-weighted ln9 grid; e^H/k and the top share are closing
    * double ops, 6-dp-rounded, −0.0-guarded.
    *
    * Scale shape: q64's plan (independent narrow subspace trainings)
    * plus a stack → 4·k-cell census agg; everything after the codes is
    * census-scale. */
  def q272PqUtilization(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactMath.ln9
    import org.apache.spark.sql.expressions.Window
    val census = q64PqCodes(spark, dir)
      .select(expr("stack(4, 0, code_0, 1, code_1, 2, code_2, 3, code_3)" +
        " as (subspace, code)"))
      .groupBy(col("subspace"), col("code"))
      .agg(count(lit(1)).as("c"))
      .withColumn("n",
        sum(col("c")).over(Window.partitionBy(col("subspace"))))
    census
      .select(col("subspace"), col("c"), col("n"),
        (ln9(col("n").cast("double") / col("c").cast("double")) * col("c"))
          .as("hw"))
      .groupBy(col("subspace"))
      .agg(max(col("n")).as("n_vectors"), count(lit(1)).as("codes_used"),
        (round(sum(col("hw")).cast("double") / max(col("n")).cast("double"),
          6) + lit(0.0)).as("entropy_nats"),
        (round(exp(sum(col("hw")).cast("double") /
          max(col("n")).cast("double")) / lit(4.0), 6) + lit(0.0))
          .as("utilization"),
        (round(max(col("c")).cast("double") / max(col("n")).cast("double"),
          6) + lit(0.0)).as("top_code_share"))
      .orderBy("subspace")
  }

  val q272Sql: String = {
    val chains = (0 until 4).map { s =>
      lloydSqlCtes(
        s"SELECT vec_id, embedding[${s * 16 + 1}:${s * 16 + 16}] AS embedding FROM embeddings",
        dim = 16, k = 4, iters = 1, p = s"s$s")
    }
    val stacked = chains.zipWithIndex.map { case ((_, out), s) =>
      s"SELECT $s AS subspace, cluster AS code FROM $out"
    }.mkString("\nUNION ALL\n")
    s"""WITH ${chains.map(_._1).mkString(",\n")},
      |stacked AS ($stacked),
      |census AS (
      |  SELECT subspace, code, COUNT(*) AS c
      |  FROM stacked GROUP BY 1, 2),
      |m AS (
      |  SELECT subspace, c,
      |    SUM(c) OVER (PARTITION BY subspace) AS n
      |  FROM census),
      |st AS (
      |  SELECT subspace, CAST(MAX(n) AS BIGINT) AS n_vectors,
      |    COUNT(*) AS codes_used,
      |    SUM(CAST(round(ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)), 9)
      |      AS DECIMAL(12,9)) * c) AS sh,
      |    CAST(MAX(c) AS BIGINT) AS cmax
      |  FROM m GROUP BY 1)
      |SELECT subspace, n_vectors, codes_used,
      |  round(CAST(sh AS DOUBLE) / CAST(n_vectors AS DOUBLE), 6) + 0.0
      |    AS entropy_nats,
      |  round(exp(CAST(sh AS DOUBLE) / CAST(n_vectors AS DOUBLE)) / 4.0, 6)
      |    + 0.0 AS utilization,
      |  round(CAST(cmax AS DOUBLE) / CAST(n_vectors AS DOUBLE), 6) + 0.0
      |    AS top_code_share
      |FROM st ORDER BY subspace""".stripMargin
  }

  // ---------------------------------------------------------------- q277
  /** IVF cell-imbalance factor over the q60/q275 Lloyd cells (k = 8,
    * one round): λ = k·Σc²/N² — FAISS's imbalance metric, the expected
    * slowdown multiplier of a 1-probe scan relative to perfectly
    * balanced cells (λ = 1): a probe lands in cell i with probability
    * cᵢ/N and then scans cᵢ candidates, so expected scan cost is
    * Σcᵢ²/N = λ·(N/k). The partition-skew audit for the VECTOR index —
    * q65 profiles key skew for joins, this is the same question for
    * ANN probes, and with q272 (PQ side) it completes the index-health
    * pair: λ says probes are slow, q272 says codes are blunt.
    *
    * Exactness: cell sizes are exact counts off the hash-certified
    * assignment; Σc² is an exact DECIMAL sum; λ and the min/max shares
    * are closing double chains, 6-dp-rounded.
    *
    * Scale shape: one Lloyd pass (broadcast k-row centroids) + one
    * k-cell census agg. */
  def q277IvfImbalance(spark: SparkSession, dir: String): DataFrame = {
    val e = Kpis.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .withColumn("n2", graft.functions.VectorFunctions.norm2(col("embedding")))
    val cells = lloyd(e, k = 8, iters = 1)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("c"))
    val cD = col("c").cast("decimal(18,0)")
    cells.agg(
        sum(col("c")).as("n_vectors"),
        count(lit(1)).as("n_cells_used"),
        min(col("c")).as("min_cell"),
        max(col("c")).as("max_cell"),
        sum(cD * cD).as("s2"))
      .select(col("n_vectors"), col("n_cells_used"), col("min_cell"),
        col("max_cell"),
        (round(lit(8.0) * col("s2").cast("double") /
          (col("n_vectors").cast("double") *
            col("n_vectors").cast("double")), 6) + lit(0.0))
          .as("imbalance_factor"))
  }

  val q277Sql: String = {
    val (chain, out) = lloydSqlCtes(
      "SELECT vec_id, embedding FROM embeddings", dim = Dim, k = 8,
      iters = 1, p = "iv")
    s"""WITH $chain,
      |cells AS (SELECT cluster, COUNT(*) AS c FROM $out GROUP BY 1),
      |st AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS n_vectors,
      |    COUNT(*) AS n_cells_used,
      |    CAST(MIN(c) AS BIGINT) AS min_cell,
      |    CAST(MAX(c) AS BIGINT) AS max_cell,
      |    SUM(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))) AS s2
      |  FROM cells)
      |SELECT n_vectors, n_cells_used, min_cell, max_cell,
      |  round(8.0 * CAST(s2 AS DOUBLE) /
      |    (CAST(n_vectors AS DOUBLE) * CAST(n_vectors AS DOUBLE)), 6)
      |    + 0.0 AS imbalance_factor
      |FROM st""".stripMargin
  }

  // ---------------------------------------------------------------- q278
  /** External clustering validity: normalized mutual information
    * between the q277 Lloyd cells and the embeddings' LABEL column,
    * NMI = I(cell; label)/√(H(cell)·H(label)) with both entropies
    * alongside. The ground-truth check q180's silhouette can't do:
    * silhouette grades geometry against ITSELF; NMI grades the cells
    * against an external labeling — NMI ≈ 0 says the index's
    * partition is orthogonal to the semantics users will query by
    * (cells won't help filtered/labelled search), NMI near 1 says
    * cell-routing doubles as a classifier.
    *
    * Exactness: the |cells|×|labels| contingency is exact counts off
    * the hash-certified assignment; MI and both entropies are the q137
    * count-weighted ln9 grid; NMI is one closing double chain,
    * 6-dp-rounded.
    *
    * Scale shape: one Lloyd pass + an id-equi-join to labels + ONE
    * map-combinable contingency agg; marginals are windows over the
    * census. */
  def q278CellLabelNmi(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactMath.ln9
    import org.apache.spark.sql.expressions.Window
    val base = Kpis.table(spark, dir, "embeddings")
    val e = base.select(col("vec_id"), col("embedding"))
      .withColumn("n2", graft.functions.VectorFunctions.norm2(col("embedding")))
    val joint = lloyd(e, k = 8, iters = 1)
      .join(base.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("cxy"))
    val dbl = (c: String) => col(c).cast("double")
    val m = joint
      .withColumn("cx", sum(col("cxy")).over(Window.partitionBy(col("cluster"))))
      .withColumn("cy", sum(col("cxy")).over(Window.partitionBy(col("label"))))
      .withColumn("n", sum(col("cxy")).over(Window.partitionBy()))
    val st = m.select(col("cxy"), col("n"),
        (ln9(dbl("cxy") * dbl("n") / (dbl("cx") * dbl("cy"))) * col("cxy"))
          .as("mi_w"),
        (ln9(dbl("n") / dbl("cx")) * col("cxy")).as("hx_w"),
        (ln9(dbl("n") / dbl("cy")) * col("cxy")).as("hy_w"))
      .agg(max(col("n")).as("n_vectors"),
        sum(col("mi_w")).as("smi"), sum(col("hx_w")).as("shx"),
        sum(col("hy_w")).as("shy"))
    val nD = col("n_vectors").cast("double")
    val mi = col("smi").cast("double") / nD
    val hx = col("shx").cast("double") / nD
    val hy = col("shy").cast("double") / nD
    st.select(col("n_vectors"),
      (round(mi, 6) + lit(0.0)).as("mi_nats"),
      (round(hx, 6) + lit(0.0)).as("h_cell"),
      (round(hy, 6) + lit(0.0)).as("h_label"),
      (round(mi / sqrt(hx * hy), 6) + lit(0.0)).as("nmi"))
  }

  val q278Sql: String = {
    val (chain, out) = lloydSqlCtes(
      "SELECT vec_id, embedding FROM embeddings", dim = Dim, k = 8,
      iters = 1, p = "nm")
    s"""WITH $chain,
      |joint AS (
      |  SELECT a.cluster, e.label, COUNT(*) AS cxy
      |  FROM $out a JOIN embeddings e ON a.vec_id = e.vec_id
      |  GROUP BY 1, 2),
      |m AS (
      |  SELECT cxy,
      |    SUM(cxy) OVER (PARTITION BY cluster) AS cx,
      |    SUM(cxy) OVER (PARTITION BY label) AS cy,
      |    SUM(cxy) OVER () AS n
      |  FROM joint),
      |st AS (
      |  SELECT CAST(MAX(n) AS BIGINT) AS n_vectors,
      |    SUM(CAST(round(ln(CAST(cxy AS DOUBLE) * CAST(n AS DOUBLE)
      |          / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))), 9)
      |        AS DECIMAL(12,9)) * cxy) AS smi,
      |    SUM(CAST(round(ln(CAST(n AS DOUBLE) / CAST(cx AS DOUBLE)), 9)
      |        AS DECIMAL(12,9)) * cxy) AS shx,
      |    SUM(CAST(round(ln(CAST(n AS DOUBLE) / CAST(cy AS DOUBLE)), 9)
      |        AS DECIMAL(12,9)) * cxy) AS shy
      |  FROM m)
      |SELECT n_vectors,
      |  round(CAST(smi AS DOUBLE) / CAST(n_vectors AS DOUBLE), 6) + 0.0
      |    AS mi_nats,
      |  round(CAST(shx AS DOUBLE) / CAST(n_vectors AS DOUBLE), 6) + 0.0
      |    AS h_cell,
      |  round(CAST(shy AS DOUBLE) / CAST(n_vectors AS DOUBLE), 6) + 0.0
      |    AS h_label,
      |  round((CAST(smi AS DOUBLE) / CAST(n_vectors AS DOUBLE)) /
      |    sqrt((CAST(shx AS DOUBLE) / CAST(n_vectors AS DOUBLE)) *
      |         (CAST(shy AS DOUBLE) / CAST(n_vectors AS DOUBLE))), 6)
      |    + 0.0 AS nmi
      |FROM st""".stripMargin
  }

  // ---------------------------------------------------------------- q368
  /** Adjusted Rand index between the q277 Lloyd cells and the label
    * column — the PAIR-COUNTING external-validity companion to q278's
    * information-theoretic NMI. The two disagree in exactly the cases
    * that matter for an index audit: NMI stays high under many small
    * pure-but-fragmented cells (it measures information, not
    * agreement), while ARI's chance correction punishes fragmentation
    * because the expected pair agreement of a fine partition is low.
    * Reporting both (same census, same assignment) turns "the cells
    * track the labels" into two numbers that must AGREE before the
    * claim stands.
    *
    * Exactness: pair counts n(n−1)/2 are exact integers off the same
    * contingency census as q278; the a·b cross product is exact
    * DECIMAL(38,0) (q320's integer-space discipline — BIGINT would
    * overflow at ~10⁵ rows since a·b ~ n⁴/4); ARI is one closing
    * double chain snapped at 6 dp — no logs, no grids.
    *
    * Scale shape: one Lloyd pass + an id-equi-join to labels + ONE
    * map-combinable contingency agg; marginal pair sums are two
    * census-scale aggregates; the ARI arithmetic runs on one row. */
  def q368CellLabelAri(spark: SparkSession, dir: String): DataFrame = {
    val base = Kpis.table(spark, dir, "embeddings")
    val e = base.select(col("vec_id"), col("embedding"))
      .withColumn("n2",
        graft.functions.VectorFunctions.norm2(col("embedding")))
    val joint = lloyd(e, k = 8, iters = 1)
      .join(base.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("cxy"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def pairs(c: String): Column =
      expr(s"CAST(($c * ($c - 1)) div 2 AS DECIMAL(38,0))")
    val jointPairs = joint.agg(sum(pairs("cxy")).as("p_joint"),
      sum(col("cxy")).as("n_vectors"))
    val cellPairs = joint.groupBy(col("cluster"))
      .agg(sum(col("cxy")).as("cx"))
      .agg(sum(pairs("cx")).as("p_cells"))
    val labelPairs = joint.groupBy(col("label"))
      .agg(sum(col("cxy")).as("cy"))
      .agg(sum(pairs("cy")).as("p_labels"))
    val dbl = (c: String) => col(c).cast("double")
    val exp = dbl("p_cells") * dbl("p_labels") / dbl("p_all")
    val out = graft.plans.Eager.ckpt(
      jointPairs.crossJoin(broadcast(cellPairs))
        .crossJoin(broadcast(labelPairs))
        .withColumn("p_all", pairs("n_vectors"))
        .select(col("n_vectors"),
          col("p_joint").cast("long").as("pairs_joint"),
          col("p_cells").cast("long").as("pairs_cells"),
          col("p_labels").cast("long").as("pairs_labels"),
          (round((dbl("p_joint") - exp) /
            ((dbl("p_cells") + dbl("p_labels")) / 2.0 - exp), 6) + lit(0.0))
            .as("ari")))
    joint.unpersist()
    out
  }

  val q368Sql: String = {
    val (chain, out) = lloydSqlCtes(
      "SELECT vec_id, embedding FROM embeddings", dim = Dim, k = 8,
      iters = 1, p = "ar")
    s"""WITH $chain,
      |joint AS (
      |  SELECT a.cluster, e.label, COUNT(*) AS cxy
      |  FROM $out a JOIN embeddings e ON a.vec_id = e.vec_id
      |  GROUP BY 1, 2),
      |jp AS (
      |  SELECT SUM(CAST((cxy * (cxy - 1)) // 2 AS DECIMAL(38,0))) AS p_joint,
      |    CAST(SUM(cxy) AS BIGINT) AS n_vectors
      |  FROM joint),
      |cp AS (
      |  SELECT SUM(CAST((cx * (cx - 1)) // 2 AS DECIMAL(38,0))) AS p_cells
      |  FROM (SELECT SUM(cxy) AS cx FROM joint GROUP BY cluster)),
      |lp AS (
      |  SELECT SUM(CAST((cy * (cy - 1)) // 2 AS DECIMAL(38,0))) AS p_labels
      |  FROM (SELECT SUM(cxy) AS cy FROM joint GROUP BY label)),
      |m AS (
      |  SELECT n_vectors, p_joint, p_cells, p_labels,
      |    CAST((n_vectors * (n_vectors - 1)) // 2 AS DECIMAL(38,0)) AS p_all
      |  FROM jp, cp, lp)
      |SELECT n_vectors,
      |  CAST(p_joint AS BIGINT) AS pairs_joint,
      |  CAST(p_cells AS BIGINT) AS pairs_cells,
      |  CAST(p_labels AS BIGINT) AS pairs_labels,
      |  round((CAST(p_joint AS DOUBLE)
      |      - CAST(p_cells AS DOUBLE) * CAST(p_labels AS DOUBLE)
      |        / CAST(p_all AS DOUBLE))
      |    / ((CAST(p_cells AS DOUBLE) + CAST(p_labels AS DOUBLE)) / 2.0
      |      - CAST(p_cells AS DOUBLE) * CAST(p_labels AS DOUBLE)
      |        / CAST(p_all AS DOUBLE)), 6) + 0.0 AS ari
      |FROM m""".stripMargin
  }

  // ---------------------------------------------------------------- q375
  /** Prototypicality coreset per semantic cell — the D4-style
    * DIVERSIFICATION step that follows dedup in a curation pipeline:
    * within each Lloyd cell, the vectors CLOSEST to the centroid are
    * the cell's redundant prototypes (the mass a model sees over and
    * over), so the selection keeps the FARTHEST half of every cell and
    * drops the prototypical half. This is the embedding-space
    * complement of q364's soft-dedup: q364 down-weights literal
    * copies; this prunes semantic redundancy that never hashes equal.
    * Per cell: member count, kept count, mean squared distance of all
    * vs kept members (the measured diversity gain), and the cut
    * distance (the d² threshold the cell splits at).
    *
    * Exactness: assignments and d² come from the hash-certified lloyd
    * chain; ranks are integer (ties break on vec_id); each d² is
    * snapped at 9 dp into DECIMAL(28,9) before the per-cell sums, so
    * means are exact-decimal ÷ integer, emitted at 6 dp.
    *
    * Scale shape: one Lloyd pass + ONE window PARTITIONED BY CELL
    * (never global — a cell is n/k rows and production k scales with
    * n, the q99/q101 discipline) + a map-combinable per-cell agg. */
  def q375CoresetCells(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val asg = lloyd(emb(spark, dir), k = 8, iters = 1)
      .select(col("vec_id"), col("cluster"),
        round(col("d2"), 9).cast("decimal(28,9)").as("d2s"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("d2s"), col("vec_id"))
    val ranked = asg.withColumn("rk", row_number().over(w))
      .withColumn("n_cell", count(lit(1))
        .over(Window.partitionBy(col("cluster"))))
    val kept = col("rk") > expr("n_cell div 2")
    ranked.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        sum(col("d2s")).as("sum_all"),
        sum(when(kept, col("d2s")).otherwise(lit(0).cast("decimal(28,9)")))
          .as("sum_kept"),
        max(when(!kept, col("d2s"))).as("cut_d2"))
      .select(col("cluster"), col("n_members"), col("n_kept"),
        (round(col("sum_all").cast("double") /
          col("n_members").cast("double"), 6) + lit(0.0))
          .as("mean_d2_all"),
        (round(col("sum_kept").cast("double") /
          col("n_kept").cast("double"), 6) + lit(0.0)).as("mean_d2_kept"),
        (round(coalesce(col("cut_d2"), lit(0).cast("decimal(28,9)"))
          .cast("double"), 6) + lit(0.0)).as("cut_d2"))
      .orderBy("cluster")
  }

  val q375Sql: String = {
    val (chain, out) = lloydSqlCtes(
      "SELECT vec_id, embedding FROM embeddings", dim = Dim, k = 8,
      iters = 1, p = "cs")
    s"""WITH $chain,
      |asg AS (
      |  SELECT vec_id, cluster,
      |    CAST(round(d2, 9) AS DECIMAL(28,9)) AS d2s
      |  FROM $out),
      |r AS (
      |  SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY d2s, vec_id)
      |      AS rk,
      |    COUNT(*) OVER (PARTITION BY cluster) AS n_cell
      |  FROM asg)
      |SELECT cluster, COUNT(*) AS n_members,
      |  CAST(SUM(CASE WHEN rk > n_cell // 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  round(CAST(SUM(d2s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
      |    + 0.0 AS mean_d2_all,
      |  round(CAST(SUM(CASE WHEN rk > n_cell // 2 THEN d2s
      |      ELSE CAST(0 AS DECIMAL(28,9)) END) AS DOUBLE)
      |    / CAST(SUM(CASE WHEN rk > n_cell // 2 THEN 1 ELSE 0 END)
      |      AS DOUBLE), 6) + 0.0 AS mean_d2_kept,
      |  round(CAST(COALESCE(MAX(CASE WHEN rk <= n_cell // 2 THEN d2s END),
      |    CAST(0 AS DECIMAL(28,9))) AS DOUBLE), 6) + 0.0 AS cut_d2
      |FROM r GROUP BY cluster ORDER BY cluster""".stripMargin
  }

  def queries: Seq[Query] = Seq(
    Query("q60_kmeans", q60Kmeans _, q60Sql),
    Query("q64_pq_codes", q64PqCodes _, q64Sql),
    Query("q272_pq_utilization", q272PqUtilization _, q272Sql),
    Query("q277_ivf_imbalance", q277IvfImbalance _, q277Sql),
    Query("q278_cell_label_nmi", q278CellLabelNmi _, q278Sql),
    Query("q368_cell_label_ari", q368CellLabelAri _, q368Sql),
    Query("q375_coreset_cells", q375CoresetCells _, q375Sql))
}
