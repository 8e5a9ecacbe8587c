package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.ExactMath.r6
import graft.functions.VectorFunctions._

/** Embedding-space distribution statistics — the drift-monitoring
  * primitive of an embedding pipeline: per-dimension means and the full
  * upper-triangle covariance matrix of the corpus embeddings. Comparing
  * these against a reference snapshot (q90's diff, or a simple threshold)
  * is the standard cheap detector for encoder drift, ingest corruption,
  * or a population shift — before any expensive ANN index is rebuilt.
  */
object EmbedStatsQueries {

  // --------------------------------------------------------------- q119
  /** Upper-triangle covariance (dim 64 → 2,080 (i,j) rows): n, the two
    * dimension means, and cov_ij = Σxy/n − x̄·ȳ.
    *
    * Exactness: elements are rounded to the 9-dp grid and cast
    * DECIMAL(18,9) once, so Σx and Σxy are EXACT decimal sums (the q115
    * upgrade of the q69 convention — no float summation-order jitter);
    * the covariance is then single double ops on identical exact
    * operands, rounded to 6 dp with the negative-zero guard
    * (covariances sit on both sides of zero by nature).
    *
    * Scale shape: the mean pass explodes dim entries per row, the
    * covariance pass dim(dim+1)/2 products per row — both collapse via
    * map-side partial aggregation to (dim) and (dim²/2) groups before
    * any shuffle, so shuffle volume is independent of corpus size. The
    * declarative explode trades CPU (a 2,080× row fan-out pre-combine)
    * for zero custom code at dim 64; at 1024+ dims the same sums would
    * move into a typed Aggregator accumulating one triangle array per
    * partition (the ConsistentSample pattern) — identical semantics,
    * same store contract. */
  def q119EmbedCovariance(spark: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val v = spark.read.parquet(s"$dir/embeddings.parquet")
      // single-file fixture scan = ONE partition; spread before the
      // explodes (q48's lesson) — at scale the scan supplies the splits
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(transform(col("embedding"),
        x => round(x.cast("double"), 9).cast("decimal(18,9)")).as("vv"))
    val means = v
      .select(explode(transform(sequence(lit(1), lit(dim)),
        i => struct(i.as("i"), element_at(col("vv"), i).as("x")))).as("e"))
      .groupBy(col("e.i").as("i"))
      .agg(count(lit(1)).as("n"), sum(col("e.x")).as("sx"))
    val prods = v
      .select(explode(flatten(transform(sequence(lit(1), lit(dim)), i =>
        transform(sequence(i, lit(dim)), j =>
          struct(i.as("i"), j.as("j"),
            (element_at(col("vv"), i) * element_at(col("vv"), j))
              .as("p")))))).as("e"))
      .groupBy(col("e.i").as("i"), col("e.j").as("j"))
      .agg(sum(col("e.p")).as("sxy"))
    val mi = means.select(col("i"), col("n"), col("sx").as("si"))
    val mj = means.select(col("i").as("j"), col("sx").as("sj"))
    val nd = col("n").cast("double")
    prods.join(mi, "i").join(mj, "j")
      .select(col("i").as("dim_i"), col("j").as("dim_j"), col("n"),
        (round(col("si").cast("double") / nd, 6) + lit(0.0)).as("mean_i"),
        (round(col("sj").cast("double") / nd, 6) + lit(0.0)).as("mean_j"),
        (round(col("sxy").cast("double") / nd -
          (col("si").cast("double") / nd) * (col("sj").cast("double") / nd),
          6) + lit(0.0)).as("cov"))
      .orderBy("dim_i", "dim_j")
  }

  val q119Sql: String =
    """WITH v AS MATERIALIZED (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE), 9) AS DECIMAL(18,9))) AS vv
      |  FROM embeddings),
      |dims AS (
      |  SELECT i, COUNT(*) AS n, SUM(vv[i]) AS sx
      |  FROM v CROSS JOIN generate_series(1, 64) AS t(i)
      |  GROUP BY i),
      |prods AS (
      |  SELECT i, j, SUM(vv[i] * vv[j]) AS sxy
      |  FROM v
      |  CROSS JOIN generate_series(1, 64) AS ti(i)
      |  CROSS JOIN generate_series(1, 64) AS tj(j)
      |  WHERE j >= i
      |  GROUP BY i, j)
      |SELECT CAST(p.i AS INTEGER) AS dim_i, CAST(p.j AS INTEGER) AS dim_j,
      |  di.n AS n,
      |  round(CAST(di.sx AS DOUBLE) / CAST(di.n AS DOUBLE), 6) + 0.0
      |    AS mean_i,
      |  round(CAST(dj.sx AS DOUBLE) / CAST(di.n AS DOUBLE), 6) + 0.0
      |    AS mean_j,
      |  round(CAST(p.sxy AS DOUBLE) / CAST(di.n AS DOUBLE)
      |        - (CAST(di.sx AS DOUBLE) / CAST(di.n AS DOUBLE))
      |          * (CAST(dj.sx AS DOUBLE) / CAST(di.n AS DOUBLE)), 6) + 0.0
      |    AS cov
      |FROM prods p
      |JOIN dims di ON di.i = p.i
      |JOIN dims dj ON dj.i = p.j
      |ORDER BY dim_i, dim_j""".stripMargin

  // --------------------------------------------------------------- q126
  /** Top principal component of the embedding cloud via POWER ITERATION
    * on the covariance matrix — the drift detector one level up from
    * q119: a shift in the dominant variance direction catches encoder
    * swaps and population drift that per-element covariance deltas blur.
    *
    * Two-phase plan, each phase scale-appropriate: (1) the DATA-scale
    * pass is q119's covariance machinery (exact decimal sums, map-side
    * partial aggregation — shuffle volume independent of corpus size),
    * mirrored from the upper triangle to the full dim×dim matrix;
    * (2) the ITERATION runs on the dim²-row matrix frame (KB-sized,
    * corpus-independent) as three matvec join+agg rounds — grid state
    * as DECIMAL(14,12), fully exact decimal products and sums inside
    * each matvec (see the inline note for why PageRank's round-then-sum
    * recipe is unsound here), and each round renormalizes by the
    * ∞-norm pivot (largest |y|, smallest-index tiebreak, compared on
    * exact decimals). Dividing by the SIGNED pivot also fixes the
    * eigenvector's sign ambiguity: the pivot component is exactly 1.0.
    * v0 = 0.125 (= 1/√64) is exact dyadic. λ∞ is the last pivot — an
    * ∞-norm Rayleigh estimate. Three rounds is the registered contract
    * (production iterates to tolerance; each extra round is one more
    * KB-sized join — the cost story does not change).
    */
  def q126PcaPower(spark: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val iters = 3
    // 6-dp entry grid — COARSER than q119's 9 dp, deliberately: products
    // then carry scale 12, so the Σxy sums' unscaled int128 stays below
    // 2^53 (≤ corpus_n × 10^12) and BOTH engines' decimal→double casts
    // are exact. q119 can afford scale-18 sums because it rounds the
    // final covariance at 6 dp, where a 1–2 ulp operand wobble almost
    // never flips the grid; this query rounds at 12 dp, where it does
    // (seen in development: maxdiff 4.6e-10 on loadings).
    val v = spark.read.parquet(s"$dir/embeddings.parquet")
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(transform(col("embedding"),
        x => round(x.cast("double"), 6).cast("decimal(12,6)")).as("vv"))
    val stats = v
      .select(explode(transform(sequence(lit(1), lit(dim)),
        i => struct(i.as("i"), element_at(col("vv"), i).as("x")))).as("e"))
      .groupBy(col("e.i").as("i"))
      .agg(count(lit(1)).as("n"), sum(col("e.x")).as("sx"))
    val tri = v
      .select(explode(flatten(transform(sequence(lit(1), lit(dim)), i =>
        transform(sequence(i, lit(dim)), j =>
          struct(i.as("i"), j.as("j"),
            (element_at(col("vv"), i) * element_at(col("vv"), j))
              .as("p")))))).as("e"))
      .groupBy(col("e.i").as("i"), col("e.j").as("j"))
      .agg(sum(col("e.p")).as("sxy"))
    val full = tri.union(tri.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("sxy")))
    val mi = stats.select(col("i"), col("n"), col("sx").as("si"))
    val mj = stats.select(col("i").as("j"), col("sx").as("sj"))
    val nd = col("n").cast("double")
    val g = full.join(mi, "i").join(mj, "j")
      .select(col("i"), col("j"),
        (round(col("sxy").cast("double") / nd -
          (col("si").cast("double") / nd) * (col("sj").cast("double") / nd),
          12) + lit(0.0)).cast("decimal(14,12)").as("g"))
      .localCheckpoint() // iterated 3×: materialize the corpus pass once
    // Matvec arithmetic is EXACT decimal end-to-end: g and v live on the
    // 12-dp grid as DECIMAL(14,12), each product infers (29,24) — no
    // precision clamp — and the row sum is an exact DECIMAL(38,24). The
    // obvious alternative (round each double product to 12 dp, sum as
    // decimal — PageRank's recipe) FAILS here: g·0.125 lands EXACTLY on
    // the half-grid for ⅛ of entries (g is grid-aligned, 0.125 dyadic),
    // and Spark rounds the shortest-decimal repr HALF_UP while DuckDB
    // rounds the true binary value — a coin-flip per tie (seen in
    // development: 10/64 rows off by 1 grid ulp in round 1). The (38,24)
    // sum then narrows back to (14,12): Spark's decimal cast rounds
    // HALF_UP, but DuckDB's decimal cast TRUNCATES (measured:
    // …7189 → …718), so the oracle spells it round(x, 12) — DuckDB's
    // decimal round is exact half-away-from-zero, same as HALF_UP —
    // before its cast. The narrowed value's unscaled form sits below
    // 2^53, so the cast to double for the normalize step is exact.
    var vec = g.select(col("i").as("j")).distinct()
      .select(col("j"), lit(0.125).cast("decimal(14,12)").as("v"))
    var pivot: DataFrame = null
    for (_ <- 1 to iters) {
      val y = g.join(vec, "j")
        .select(col("i"), (col("g") * col("v")).as("t"))
        .groupBy("i").agg(sum(col("t")).cast("decimal(14,12)").as("y"))
      pivot = y.orderBy(abs(col("y")).desc, col("i")).limit(1)
        .select(col("y").cast("double").as("m"))
      vec = y.crossJoin(broadcast(pivot))
        .select(col("i").as("j"),
          (round(col("y").cast("double") / col("m"), 12) + lit(0.0))
            .cast("decimal(14,12)").as("v"))
    }
    vec.crossJoin(broadcast(pivot.select(col("m").as("lambda_inf"))))
      .select(col("j").cast("int").as("dim"),
        col("v").cast("double").as("loading"), col("lambda_inf"))
      .orderBy("dim")
  }

  val q126Sql: String = {
    val iterCtes = (1 to 3).map { k =>
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"""y$k AS (
         |  SELECT g.i, CAST(round(SUM(g.g * p.v), 12) AS DECIMAL(14,12)) AS y
         |  FROM g JOIN $prev p ON p.j = g.j GROUP BY 1),
         |m$k AS (SELECT CAST(y AS DOUBLE) AS m FROM y$k
         |        ORDER BY abs(y) DESC, i LIMIT 1),
         |v$k AS (SELECT y$k.i AS j,
         |          CAST(round(CAST(y$k.y AS DOUBLE) / m$k.m, 12) + 0.0
         |               AS DECIMAL(14,12)) AS v
         |        FROM y$k, m$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE), 6) AS DECIMAL(12,6))) AS vv
       |  FROM embeddings),
       |dims AS MATERIALIZED (
       |  SELECT i, COUNT(*) AS n, SUM(vv[i]) AS sx
       |  FROM v CROSS JOIN generate_series(1, 64) AS t(i)
       |  GROUP BY i),
       |tri AS MATERIALIZED (
       |  SELECT i, j, SUM(vv[i] * vv[j]) AS sxy
       |  FROM v
       |  CROSS JOIN generate_series(1, 64) AS ti(i)
       |  CROSS JOIN generate_series(1, 64) AS tj(j)
       |  WHERE j >= i
       |  GROUP BY i, j),
       |fullm AS (
       |  SELECT i, j, sxy FROM tri
       |  UNION ALL SELECT j, i, sxy FROM tri WHERE i < j),
       |g AS MATERIALIZED (
       |  SELECT f.i, f.j,
       |    CAST(round(CAST(f.sxy AS DOUBLE) / CAST(di.n AS DOUBLE)
       |          - (CAST(di.sx AS DOUBLE) / CAST(di.n AS DOUBLE))
       |            * (CAST(dj.sx AS DOUBLE) / CAST(di.n AS DOUBLE)), 12)
       |      + 0.0 AS DECIMAL(14,12)) AS g
       |  FROM fullm f
       |  JOIN dims di ON di.i = f.i
       |  JOIN dims dj ON dj.i = f.j),
       |v0 AS (SELECT i AS j, CAST(0.125 AS DECIMAL(14,12)) AS v FROM dims),
       |$iterCtes
       |SELECT CAST(v3.j AS INTEGER) AS dim, CAST(v3.v AS DOUBLE) AS loading,
       |  m3.m AS lambda_inf
       |FROM v3, m3 ORDER BY 1""".stripMargin
  }

  // --------------------------------------------------------------- q166
  /** Per-source centroid drift matrix: the exact per-label centroid of
    * the embedding corpus (labels are the source/class partition), then
    * every label pair's centroid cosine and L2 gap — the "which sources
    * drifted apart" audit run before re-balancing a training mixture,
    * and the aggregate companion to q163's per-vector view.
    *
    * Exactness (the q119 convention end-to-end): elements snap to the
    * 9-dp grid and sum as DECIMAL(18,9) (exact, order-free), centroid
    * components re-snap to 9 dp after the mean division, and the THREE
    * quadratic forms (dot, |a|², |b|²) sum 12-dp-gridded component
    * products as DECIMAL(28,12) — so even the pair metrics have zero
    * float summation-order jitter; the final cosine/L2 are single
    * double ops on identical exact operands, 6-dp rounded with the
    * negative-zero guard.
    *
    * Scale shape: the mean pass is the q119 explode — map-side partials
    * collapse to (labels × dim) groups before any shuffle, so shuffle
    * volume is corpus-size-independent; everything after runs on the
    * |labels|·dim centroid table (entity-scale). The pair join is over
    * labels² rows — dozens — never vectors. */
  def q166SourceDrift(spark: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val cent = spark.read.parquet(s"$dir/embeddings.parquet")
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("label"), transform(col("embedding"),
        x => round(x.cast("double"), 9).cast("decimal(18,9)")).as("vv"))
      .select(col("label"), explode(transform(sequence(lit(1), lit(dim)),
        i => struct(i.as("i"), element_at(col("vv"), i).as("x")))).as("e"))
      .groupBy(col("label"), col("e.i").as("i"))
      .agg(count(lit(1)).as("n"), sum(col("e.x")).as("sx"))
      .select(col("label"), col("i"), col("n"),
        round(col("sx").cast("double") / col("n").cast("double"), 9)
          .as("c"))
    val a = cent.select(col("label").as("label_a"), col("i"),
      col("n").as("n_a"), col("c").as("ca"))
    val b = cent.select(col("label").as("label_b"), col("i"),
      col("n").as("n_b"), col("c").as("cb"))
    val grid = (x: org.apache.spark.sql.Column) =>
      round(x, 12).cast("decimal(28,12)")
    a.join(b, Seq("i"))
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"), col("n_a"), col("n_b"))
      .agg(
        sum(grid(col("ca") * col("cb"))).as("dot"),
        sum(grid(col("ca") * col("ca"))).as("n2a"),
        sum(grid(col("cb") * col("cb"))).as("n2b"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        (round(col("dot").cast("double") /
          (sqrt(col("n2a").cast("double")) * sqrt(col("n2b").cast("double"))),
          6) + lit(0.0)).as("centroid_cos"),
        (round(sqrt((col("n2a") + col("n2b") - col("dot") - col("dot"))
          .cast("double")), 6) + lit(0.0)).as("centroid_l2"))
      .orderBy("label_a", "label_b")
  }

  val q166Sql: String =
    """WITH v AS MATERIALIZED (
      |  SELECT label, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE), 9) AS DECIMAL(18,9))) AS vv
      |  FROM embeddings),
      |cent AS MATERIALIZED (
      |  SELECT label, i, COUNT(*) AS n,
      |    round(CAST(SUM(vv[i]) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
      |      AS c
      |  FROM v CROSS JOIN generate_series(1, 64) AS t(i)
      |  GROUP BY label, i),
      |pairs AS (
      |  SELECT a.label AS label_a, b.label AS label_b,
      |    a.n AS n_a, b.n AS n_b,
      |    SUM(CAST(round(a.c * b.c, 12) AS DECIMAL(28,12))) AS dot,
      |    SUM(CAST(round(a.c * a.c, 12) AS DECIMAL(28,12))) AS n2a,
      |    SUM(CAST(round(b.c * b.c, 12) AS DECIMAL(28,12))) AS n2b
      |  FROM cent a JOIN cent b ON a.i = b.i AND a.label < b.label
      |  GROUP BY 1, 2, 3, 4)
      |SELECT label_a, label_b, n_a, n_b,
      |  round(CAST(dot AS DOUBLE)
      |    / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))), 6)
      |    + 0.0 AS centroid_cos,
      |  round(sqrt(CAST(n2a + n2b - dot - dot AS DOUBLE)), 6) + 0.0
      |    AS centroid_l2
      |FROM pairs
      |ORDER BY label_a, label_b""".stripMargin

  // --------------------------------------------------------------- q180
  /** Simplified (centroid-based) silhouette score per label: for every
    * vector, a = squared distance to its own label's centroid, b = the
    * squared distance to the nearest OTHER centroid, s = (b−a)/max(a,b);
    * the output is each label's mean s — the standard clustering-quality
    * audit (s → 1: compact and far from neighbors; s ≤ 0: the label
    * overlaps another). The full-pairwise silhouette is O(N²); the
    * centroid form is THE variant that scales — one corpus pass against
    * a broadcast k×dim table — and is exactly what an embedding pipeline
    * checks after retraining before swapping an index (complements
    * q166's drift matrix, which compares centroids ACROSS sources).
    *
    * Exactness: centroid components round to the 6-dp grid (the
    * q33/q60 k-means convention); every d2 is the (n2 + cn2) − 2·dot
    * spelling with [[graft.functions.VectorFunctions.dotD]]'s exact
    * fold; per-vector s snaps to the 9-dp decimal grid (q137's trick)
    * so the per-label mean is an exact decimal sum divided once.
    *
    * Scale shape: the centroid pass is one map-combinable agg to
    * |labels|·dim cells; assignment is a broadcast product with NO
    * shuffle of the corpus; the final agg is |labels| rows. Linear in N
    * with a |labels| constant — q60's plan shape without the Lloyd
    * iterations. */
  def q180Silhouette(spark: SparkSession, dir: String): DataFrame = {
    val e = Kpis.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"),
        norm2(col("embedding")).as("n2"))
    val cent = e
      .select(col("label").as("clabel"), posexplode(col("embedding")))
      .groupBy(col("clabel"), col("pos"))
      .agg(round(avg(col("col").cast("double")), 6).as("cv"))
      .groupBy(col("clabel"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        s => s.getField("cv")).as("centroid"))
      .withColumn("cn2", norm2(col("centroid")))
    val pairs = e.crossJoin(broadcast(cent))
      .withColumn("d2", (col("n2") + col("cn2")) -
        lit(2.0) * dotD(col("embedding"), col("centroid")))
    pairs
      .groupBy(col("vec_id"), col("label"))
      .agg(max(when(col("clabel") === col("label"), col("d2"))).as("a"),
        min(when(col("clabel") =!= col("label"), col("d2"))).as("b"))
      .withColumn("s",
        round((col("b") - col("a")) / greatest(col("a"), col("b")), 9)
          .cast("decimal(12,9)"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        (sum(col("s")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_silhouette"))
      .orderBy("label")
  }

  val q180Sql: String = {
    val dim = 64
    val centCols = (1 to dim)
      .map(i => s"round(avg(CAST(embedding[$i] AS DOUBLE)), 6) AS c$i")
      .mkString(",\n    ")
    val cn2 = (1 to dim).map(i => s"c.c$i*c.c$i").mkString(" + ")
    val dot = (1 to dim)
      .map(i => s"CAST(e.embedding[$i] AS DOUBLE)*c.c$i").mkString(" + ")
    val n2 = graft.functions.VectorFunctions
      .dotSqlUnrolled("e.embedding", "e.embedding", dim)
    s"""WITH cent AS MATERIALIZED (
      |  SELECT label AS clabel,
      |    $centCols
      |  FROM embeddings GROUP BY label),
      |pairs AS (
      |  SELECT e.vec_id, e.label, c.clabel,
      |    (($n2) + ($cn2)) - 2.0*($dot) AS d2
      |  FROM embeddings e, cent c),
      |pv AS (
      |  SELECT vec_id, label,
      |    MAX(CASE WHEN clabel = label THEN d2 END) AS a,
      |    MIN(CASE WHEN clabel <> label THEN d2 END) AS b
      |  FROM pairs GROUP BY 1, 2),
      |s AS (
      |  SELECT label,
      |    CAST(round((b - a) / GREATEST(a, b), 9) AS DECIMAL(12,9)) AS s
      |  FROM pv)
      |SELECT label, COUNT(*) AS n_vecs,
      |  CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |    AS mean_silhouette
      |FROM s GROUP BY label ORDER BY label""".stripMargin
  }

  // --------------------------------------------------------------- q183
  /** Effective dimensionality of the embedding cloud — the participation
    * ratio PR = (Σᵢ varᵢ)² / Σᵢ varᵢ² over the per-dimension variances:
    * 64 if every dimension carries equal variance, → 1 as the cloud
    * collapses onto one axis. The one-number summary of what q119's full
    * covariance and q126's top component resolve in detail — the
    * embedding-health gauge tracked per encoder release (anisotropic
    * collapse is the classic failure mode of a bad checkpoint).
    *
    * Exactness: elements snap to the 6-dp grid (q126's width note:
    * scale-12 products keep every decimal→double cast exact in both
    * engines — scale-18 sums would NOT cast exactly and the wobble can
    * flip a 9-dp rounding); each variance is one identically-spelled
    * double chain rounded to the 9-dp grid; the two PR sums are then
    * exact decimal sums over 64 rows, divided once.
    *
    * Scale shape: q119's mean pass only — one explode collapsed by
    * map-side combine to 64 groups, then a 64-row reduce. Shuffle volume
    * independent of corpus size. */
  def q183EffectiveDim(spark: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val v = spark.read.parquet(s"$dir/embeddings.parquet")
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(transform(col("embedding"),
        x => round(x.cast("double"), 6).cast("decimal(12,6)")).as("vv"))
    val perDim = v
      .select(explode(transform(sequence(lit(1), lit(dim)),
        i => struct(i.as("i"), element_at(col("vv"), i).as("x")))).as("e"))
      .groupBy(col("e.i").as("i"))
      .agg(count(lit(1)).as("n"), sum(col("e.x")).as("sx"),
        sum(col("e.x") * col("e.x")).as("sxx"))
    val nd = col("n").cast("double")
    perDim
      .select(col("n"),
        round(col("sxx").cast("double") / nd -
          (col("sx").cast("double") / nd) * (col("sx").cast("double") / nd),
          9).cast("decimal(12,9)").as("v9"))
      .agg(
        max(col("n")).as("n_vecs"),
        sum(col("v9")).cast("double").as("total_var"),
        // the squared terms snap to a 12-dp decimal BEFORE summing: a
        // scale-18 sum's unscaled value exceeds 2^53 and its
        // decimal→double cast is then engine-dependent (the q126 trap,
        // one level up)
        ((sum(col("v9")).cast("double") * sum(col("v9")).cast("double")) /
          sum(round(col("v9") * col("v9"), 12).cast("decimal(14,12)"))
            .cast("double")).as("effective_dim"))
      .select(col("n_vecs"), lit(dim).cast("long").as("n_dims"),
        col("total_var"), col("effective_dim"))
  }

  val q183Sql: String =
    """WITH v AS MATERIALIZED (
      |  SELECT list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE), 6) AS DECIMAL(12,6))) AS vv
      |  FROM embeddings),
      |per_dim AS (
      |  SELECT i, COUNT(*) AS n, SUM(vv[i]) AS sx, SUM(vv[i] * vv[i]) AS sxx
      |  FROM v CROSS JOIN generate_series(1, 64) AS t(i)
      |  GROUP BY i),
      |v9 AS (
      |  SELECT n,
      |    CAST(round(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
      |      - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 9)
      |      AS DECIMAL(12,9)) AS v9
      |  FROM per_dim)
      |SELECT CAST(MAX(n) AS BIGINT) AS n_vecs,
      |  CAST(64 AS BIGINT) AS n_dims,
      |  CAST(SUM(v9) AS DOUBLE) AS total_var,
      |  (CAST(SUM(v9) AS DOUBLE) * CAST(SUM(v9) AS DOUBLE)) /
      |    CAST(SUM(CAST(round(v9 * v9, 12) AS DECIMAL(14,12))) AS DOUBLE)
      |    AS effective_dim
      |FROM v9""".stripMargin

  // --------------------------------------------------------------- q416
  /** In-batch positive-pair coverage — the data-LAYOUT half of
    * contrastive training (the loss only sees pairs that land in the
    * SAME device batch): for batch counts B ∈ {4, 16, 64} over the
    * labeled embedding corpus, the exact share of same-label pairs
    * that are co-batched under (a) random assignment (the md5 parity
    * hash — in expectation 1/B, and the measured gap doubles as a
    * uniformity audit) and (b) label-sorted chunking (rank by (label,
    * id), cut into B equal chunks — the label-aware batching that
    * preserves positives at the price of zero in-batch label
    * diversity). The two columns bound the design space every
    * contrastive dataloader interpolates (shuffled ↔ grouped); the
    * advantage column is what label-aware batching buys at each B.
    *
    * Exactness: both assignments are integer arithmetic (hash mod;
    * ⌊(rk−1)·B/N⌋ over the exact global rank); pair counts are
    * Σ n·(n−1)/2 census sums; every share is ONE 6-dp-snapped
    * division.
    *
    * Scale shape: ONE [[graft.operators.RangeRank.withGlobalRank]]
    * range shuffle for the label-sorted order (eagerly shared by all
    * three B); per (B, batch, label) censuses are map-combinable
    * aggregates over the entity-scale corpus; the positive-pair total
    * is a |labels|-row census. */
  def q416InbatchPairs(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5Hash60
    import org.apache.spark.sql.Column
    val bs = Seq(4L, 16L, 64L)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        md5Hash60(col("vec_id").cast("string")).as("h"))
    val ranked = graft.plans.Eager.ckpt(graft.operators.RangeRank
      .withGlobalRank(e, "rk", Seq(col("label"), col("vec_id"))))
    val n = ranked.agg(count(lit(1))).head().getLong(0)
    // n·(n−1)/2 in INTEGER arithmetic (Column./ is IEEE division)
    def pairs(c: String): Column = expr(s"$c * ($c - 1) div 2")
    val totalPos = ranked.groupBy(col("label"))
      .agg(count(lit(1)).as("nl"))
      .agg(sum(pairs("nl")).as("pos_pairs"))
    val perB = bs.map { b =>
      val cells = ranked.select(col("label"),
          pmod(col("h"), lit(b)).as("rb"),
          expr(s"((rk - 1) * $b) div $n").as("sb"))
      val rnd = cells.groupBy(col("rb"), col("label"))
        .agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(pairs("c")), lit(0L)).as("rnd_pairs"))
      val srt = cells.groupBy(col("sb"), col("label"))
        .agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(pairs("c")), lit(0L)).as("srt_pairs"))
      rnd.crossJoin(srt).select(lit(b).as("n_batches"), col("rnd_pairs"),
        col("srt_pairs"))
    }.reduce(_ unionAll _)
    perB.crossJoin(broadcast(totalPos))
      .select(col("n_batches"), col("pos_pairs"),
        col("rnd_pairs"),
        r6(col("rnd_pairs").cast("double") / col("pos_pairs").cast("double"))
          .as("random_cobatch"),
        r6(lit(1.0) / col("n_batches").cast("double")).as("random_theory"),
        col("srt_pairs"),
        r6(col("srt_pairs").cast("double") / col("pos_pairs").cast("double"))
          .as("sorted_cobatch"),
        r6((col("srt_pairs") - col("rnd_pairs")).cast("double") /
          col("pos_pairs").cast("double")).as("advantage"))
      .orderBy("n_batches")
  }

  val q416Sql: String = {
    import graft.functions.TextFunctions.md5Hash60Sql
    val h = md5Hash60Sql("CAST(vec_id AS VARCHAR)")
    """WITH e AS (
      |  SELECT vec_id, label, (HASHEXPR) AS h,
      |    row_number() OVER (ORDER BY label, vec_id) AS rk,
      |    COUNT(*) OVER () AS n
      |  FROM embeddings),
      |tot AS (
      |  SELECT CAST(SUM(nl * (nl - 1) // 2) AS BIGINT) AS pos_pairs
      |  FROM (SELECT COUNT(*) AS nl FROM e GROUP BY label)),
      |bset(b) AS (VALUES (CAST(4 AS BIGINT)), (16), (64)),
      |cells AS (
      |  SELECT b, label, h % b AS rb, ((rk - 1) * b) // n AS sb
      |  FROM e CROSS JOIN bset),
      |rnd AS (
      |  SELECT b, CAST(COALESCE(SUM(c * (c - 1) // 2), 0) AS BIGINT)
      |    AS rnd_pairs
      |  FROM (SELECT b, rb, label, COUNT(*) AS c FROM cells
      |        GROUP BY 1, 2, 3) GROUP BY b),
      |srt AS (
      |  SELECT b, CAST(COALESCE(SUM(c * (c - 1) // 2), 0) AS BIGINT)
      |    AS srt_pairs
      |  FROM (SELECT b, sb, label, COUNT(*) AS c FROM cells
      |        GROUP BY 1, 2, 3) GROUP BY b)
      |SELECT b AS n_batches, pos_pairs, rnd_pairs,
      |  round(CAST(rnd_pairs AS DOUBLE) / CAST(pos_pairs AS DOUBLE), 6)
      |    + 0.0 AS random_cobatch,
      |  round(1.0 / CAST(b AS DOUBLE), 6) + 0.0 AS random_theory,
      |  srt_pairs,
      |  round(CAST(srt_pairs AS DOUBLE) / CAST(pos_pairs AS DOUBLE), 6)
      |    + 0.0 AS sorted_cobatch,
      |  round(CAST(srt_pairs - rnd_pairs AS DOUBLE)
      |    / CAST(pos_pairs AS DOUBLE), 6) + 0.0 AS advantage
      |FROM rnd JOIN srt USING (b) CROSS JOIN tot
      |ORDER BY n_batches""".stripMargin
      .replace("(HASHEXPR)", s"($h)")
  }

  def queries: Seq[Query] = Seq(
    Query("q416_inbatch_pairs", q416InbatchPairs _, q416Sql),
    Query("q119_embed_covariance", q119EmbedCovariance _, q119Sql),
    Query("q126_pca_power", q126PcaPower _, q126Sql),
    Query("q166_source_drift", q166SourceDrift _, q166Sql),
    Query("q180_silhouette", q180Silhouette _, q180Sql),
    Query("q183_effective_dim", q183EffectiveDim _, q183Sql))
}
