package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Query
import graft.functions.ExactMath.r6
import graft.functions.TextFunctions

/** Near-duplicate CLUSTERING: candidate pairs → similarity edges →
  * connected components → one cluster id per document. The missing last
  * stage of the dedup family (q19/q22/q27 emit pairs; a curation pipeline
  * needs per-doc cluster labels to keep one representative per component,
  * and pair-level dedup breaks on transitive chains A≈B≈C where A and C
  * are NOT directly similar). Extension scope — the reference's dedup
  * stops at pandas `drop_duplicates` (`dags/src/processor.py:73-77`).
  *
  * Candidate generation here is the inverted-index family (pairs sharing
  * any word n-gram shingle, with frequent-shingle pruning), complementing
  * the MinHash-band (q22), SimHash-chunk (q27) and sign-LSH (q28)
  * generators: every stage is an equi-join on shingle / id — no all-pairs
  * product. The df cap bounds the quadratic blowup a stop-word-like hot
  * shingle would cause (a shingle in d docs yields d² candidate rows; at
  * the cap that is a constant, and dropping ultra-common shingles loses
  * no discriminative signal — standard prefix-filtering practice).
  *
  * Connected components is alternating large-star / small-star
  * contraction (the canonical MapReduce CC algorithm): each round
  * rewires every node's strictly-larger neighbors to its neighborhood
  * minimum (large-star), then collapses the remaining larger→smaller
  * edges into stars per larger endpoint (small-star). Distances to the
  * component minimum roughly halve per round, so convergence takes
  * O(log n) rounds instead of diameter-many — the edge set is a fixed
  * point exactly when it is a disjoint union of min-rooted stars, which
  * read off directly as (node, component) labels. Each round's edge
  * table is EAGERLY local-checkpointed and the previous one dropped:
  * the round's plan references the prior table several times, so
  * without lineage truncation the logical plan multiplies per round and
  * the driver dies on plan strings alone long before data size matters
  * — persist caches data but keeps lineage. On a real cluster pass
  * `checkpointEveryK` (with a configured checkpoint dir) so every k-th
  * round writes a RELIABLE checkpoint — executor loss discards
  * localCheckpoint blocks, and a lost block mid-loop would otherwise
  * kill the whole run. At 1000-executor scale the same loop runs
  * unchanged: per-round cost is a handful of hash shuffles of the edge
  * table, and the table SHRINKS toward one edge per non-root node as
  * components contract.
  */
object DupClusters {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Undirected connected components over an edge list. Returns one row
    * per node appearing in at least one non-self edge: (node, comp) where
    * comp = the minimum node id in the component. Node ids must be
    * integral (cast to long).
    *
    * `checkpointEveryK` > 0 makes every k-th round write a RELIABLE
    * `checkpoint` (requires `sparkContext.setCheckpointDir`) instead of a
    * `localCheckpoint` — the cluster-mode posture, where an executor loss
    * must not discard the loop's only copy of the edge state. Default 0
    * (local blocks only) is right for local mode and tests.
    *
    * Throws `IllegalStateException` if star contraction has not converged
    * after `maxIter` rounds — exiting silently would hand the caller
    * labels that look valid but under-merge components.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 25,
                          checkpointEveryK: Int = 0): DataFrame =
    connectedComponentsWithRounds(edges, srcCol, dstCol, maxIter,
      checkpointEveryK)._1

  /** Bounded wait for an eager-checkpoint-populated observation (r5
    * advisor: a blocking `Observation.get` would hang the driver loop
    * forever if a Spark behavior change stopped the internal action from
    * reaching the listener). Falls back to a direct count — loud, never
    * wrong. */
  private def observedCountSum(obs: org.apache.spark.sql.Observation,
                               df: DataFrame): (Long, Long) =
    try {
      val row = scala.concurrent.Await
        .result(obs.future, scala.concurrent.duration.Duration(30, "s"))
      (row.getAs[Long]("n_edges"), row.getAs[Long]("efp"))
    } catch {
      case _: java.util.concurrent.TimeoutException =>
        log.warn("edge observation absent 30s after the eager checkpoint; " +
          "falling back to an aggregate job")
        val r = df.agg(count(lit(1)).as("n_edges"),
          coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L)).as("efp")).head()
        (r.getAs[Long]("n_edges"), r.getAs[Long]("efp"))
    }

  /** [[connectedComponents]] plus the number of contraction rounds it took
    * to converge (exposed so tests can pin the round count and catch
    * accidental extra rounds or actions).
    *
    * Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"): with edges held
    * canonically as (a, b), a > b,
    *   - large-star: per node u over the SYMMETRIC neighbor view, connect
    *     every strictly-larger neighbor to m = min(N(u) ∪ {u});
    *   - small-star: per larger endpoint a, connect a and its (all
    *     smaller) neighbors to m = min(N(a)).
    * Both emit only (bigger, smaller) pairs, distances to the component
    * minimum contract geometrically, and the fixed point is a disjoint
    * union of min-rooted stars — the labels. ONE action per round: the
    * new edge count is observed during the round's eager checkpoint;
    * set equality (the convergence test) is only verified by an `except`
    * job when the counts match, which near-converged rounds are the only
    * ones to reach. */
  def connectedComponentsWithRounds(edges: DataFrame, srcCol: String,
                                    dstCol: String,
                                    maxIter: Int = 25,
                                    checkpointEveryK: Int = 0): (DataFrame, Int) = {
    val fwd = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    val obs0 = org.apache.spark.sql.Observation()
    var cur = fwd
      .select(greatest(col("src"), col("dst")).as("a"),
        least(col("src"), col("dst")).as("b"))
      .distinct()
      .observe(obs0, count(lit(1)).as("n_edges"),
        coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L)).as("efp"))
      .localCheckpoint(true)
    var (prevCount, prevFp) = observedCountSum(obs0, cur)
    if (prevCount == 0L) {
      // no non-self edges → no labeled nodes; "one round" to mirror the
      // single detection pass the loop would have made
      return (cur.select(col("a").as("node"), col("b").as("comp")), 1)
    }
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val sym = cur.select(col("a").as("u"), col("b").as("v"))
        .unionByName(cur.select(col("b").as("u"), col("a").as("v")))
      // large-star: m = min(N(u) ∪ {u}); edge (v, m) for each v ∈ N(u),
      // v > u. (v > u ≥ m keeps the canonical orientation.) The groupBy
      // and the join shuffle sym on the same key, so the exchange is
      // planned once and reused.
      val mins1 = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // no distinct here: duplicate (v, m) rows don't affect small-star's
      // min aggregate, and the round's final distinct dedups anyway —
      // an intermediate dedup would be one more full shuffle per round
      val ls = sym.join(mins1, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
      // small-star: per larger endpoint a (every neighbor b < a),
      // m = min(N(a)); edges (b, m) for b ≠ m, plus (a, m).
      val mins2 = ls.groupBy(col("a")).agg(min(col("b")).as("m"))
      val ss = ls.join(mins2, "a")
        .where(col("b") =!= col("m"))
        .select(col("b").as("x"), col("m").as("y"))
        .unionByName(mins2.select(col("a").as("x"), col("m").as("y")))
        .distinct()
        .select(col("x").as("a"), col("y").as("b"))
      val obs = org.apache.spark.sql.Observation()
      val observed = ss.observe(obs, count(lit(1)).as("n_edges"),
        coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L)).as("efp"))
      val next =
        if (checkpointEveryK > 0 && (i + 1) % checkpointEveryK == 0)
          observed.checkpoint(true)
        else observed.localCheckpoint(true)
      // the eager checkpoint above IS the round's single action; superseded
      // rounds' blocks become unreferenced and are reclaimed by the
      // ContextCleaner.
      val (nextCount, nextFp) = observedCountSum(obs, next)
      // the star fixed point is reached when the edge SET is unchanged;
      // count and an order-independent xor fingerprint are observed for
      // free, so the (shuffling) exact except check only runs on rounds
      // where both are stable — in practice only at convergence.
      converged = nextCount == prevCount && nextFp == prevFp &&
        next.except(cur).isEmpty
      prevCount = nextCount
      prevFp = nextFp
      cur = next
      i += 1
    }
    if (!converged) {
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIter=$maxIter " +
          "rounds; labels would be silently under-merged. Raise maxIter " +
          "for this graph (rounds grow ~log of the component size).")
    }
    log.info(s"connectedComponents converged in $i rounds")
    // converged edge set = min-rooted stars: children label from their
    // root edge; each root labels itself
    val labels = cur.select(col("a").as("node"), col("b").as("comp"))
      .unionByName(cur.select(col("b").as("node"), col("b").as("comp"))
        .distinct())
    (labels, i)
  }

  /** Prefix-filtered candidate pairs (the PPJoin-family bound): under the
    * global rarest-first (df, shingle) order, only each doc's first
    * ⌊(1−t)·|S|⌋+1 shingles probe the full inverted index. Complete
    * recall for any measure m with m(A,B) ≥ t ⟹ |A∩B| ≥ ⌈t·min(|A|,|B|)⌉
    * — Jaccard (|A∩B| ≥ t·|A∪B| ≥ t·min) and smaller-set containment both
    * qualify: if the smaller set S shares no prefix shingle with the
    * other side, |A∩B| ≤ |S| − (|S| − ⌈t·|S|⌉ + 1) < t·|S|. Candidate
    * volume scales with Σ df(prefix shingle) — rare by construction —
    * instead of Σ C(df, 2) over the whole index. Input must have columns
    * (id: long, sh: array<_>) with sh already element-distinct.
    */
  def prefixCandidatePairs(docsWithShingles: DataFrame,
                           t: Double): DataFrame = {
    val inv = docsWithShingles.select(col("id"), explode(col("sh")).as("s"))
    val dfs = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("s"))
    val prefix = inv.join(dfs, "s")
      .join(docsWithShingles.select(col("id"), size(col("sh")).as("sz")),
        "id")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("sz") - ceil(col("sz") * lit(t)) + lit(1))
      .select(col("id").as("x"), col("s"))
    prefix.join(inv.select(col("id").as("y"), col("s")), "s")
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()
  }

  /** Inverted-index candidate pairs: distinct (a, b), a < b, sharing at
    * least one shingle whose document frequency is ≤ dfCap. Input must
    * have columns (id: long, sh: array<string>) with sh already distinct.
    * The df-cap variant trades recall on ultra-common shingles for a
    * hard bound on per-shingle join width; [[prefixCandidatePairs]] is
    * the recall-complete alternative used by the registered pipelines.
    */
  def shingleCandidatePairs(docsWithShingles: DataFrame, dfCap: Int): DataFrame = {
    val inv = docsWithShingles
      .select(col("id"), explode(col("sh")).as("s"))
      .distinct()
    val kept = inv.groupBy("s").agg(count(lit(1)).as("df"))
      .where(col("df") <= dfCap)
      .select("s")
    inv.join(kept, "s")
      .join(inv.withColumnRenamed("id", "id2"), "s")
      .where(col("id") < col("id2"))
      .select(col("id").as("a"), col("id2").as("b"))
      .distinct()
  }

  /** q45: the full pipeline on a deterministic derived corpus — every
    * 10th document plus two appended-tail variants (ids +100000/+200000,
    * the same clone-id convention as q19/q22; fixture doc ids are far
    * below the offset). With threshold 0.7, orig↔v1 and v1↔v2 edges
    * always pass, but orig↔v2 FAILS for short documents
    * ((T-2)/(T+4) < 0.7 below ~21 tokens; the fixture has 11-token docs)
    * — those components only assemble through transitive propagation,
    * so the oracle genuinely checks the closure, not just the edge list.
    */
  /** q45's derived corpus (every 10th doc + two appended-tail variants)
    * with distinct 3-shingles, spread across cores and PERSISTED — the
    * caller must unpersist. */
  private[graft] def q45ShingleTable(spark: SparkSession, dir: String): DataFrame = {
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    def variant(offset: Long, tail: String): DataFrame =
      base.select((col("doc_id") + offset).as("id"),
        (if (tail.isEmpty) col("text") else concat(col("text"), lit(tail)))
          .as("text"))
    val variants = variant(0L, "")
      .unionByName(variant(100000L, " zz extra tail"))
      .unionByName(variant(200000L, " zz extra tail rr more pad"))
    variants
      // single-file fixture scan = one split; the exchange must sit BELOW
      // the shingling projection or the per-row shingle work still runs
      // on the scan's single task (q329's lesson — repartition-then-select,
      // not select-then-repartition)
      .repartition(variants.sparkSession.sparkContext.defaultParallelism,
        col("id"))
      .select(col("id"),
        array_distinct(TextFunctions.shingles(
          TextFunctions.tokens(col("text")), 3)).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Exact Jaccard-SCORED candidate pairs (a, b, j) over a (id, sh)
    * shingle table: prefix-filtered candidates (recall-complete at `t`),
    * then the verify computed RELATIONALLY (r17, guide §2.3): the
    * intersection of two distinct shingle sets is their co-occurrence
    * count in the inverted index, so joining the candidate pairs back to
    * the index on (doc, shingle) and counting replaces the two
    * array-attach joins and the per-pair `array_intersect` (which the
    * filter-pushdown duplication evaluated twice per pair — measured
    * 4.3 s → 0.9 s for q198's verify stage at sf0.1). The join width
    * stays bounded by |candidates|·|set| — the prefix filter's scale
    * shape is untouched. j is the identical IEEE double: inter/sza/szb
    * are the same exact integers and the division is spelled as before.
    *
    * INPUT CONTRACT (as for [[prefixCandidatePairs]]): `sh` must be
    * ELEMENT-DISTINCT — the co-occurrence count equals the set
    * intersection only then (every current caller applies
    * `array_distinct` upstream; a raw-shingle caller would silently
    * overcount `inter`).
    */
  private[graft] def jaccardScored(withShingles: DataFrame,
                                   t: Double): DataFrame = {
    val inv = withShingles.select(col("id"), explode(col("sh")).as("s"))
    val sz = withShingles.select(col("id"), size(col("sh")).as("sz"))
    prefixCandidatePairs(withShingles, t)
      .join(inv.select(col("id").as("a"), col("s")), "a")
      .join(inv.select(col("id").as("b"), col("s")), Seq("b", "s"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.select(col("id").as("a"), col("sz").as("sza")), "a")
      .join(sz.select(col("id").as("b"), col("sz").as("szb")), "b")
      .select(col("a"), col("b"),
        (col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter"))).as("j"))
      .where(col("j") >= t)
  }

  /** Exact-Jaccard-verified similarity edges over a (id, sh) shingle
    * table: prefix-filtered candidates (recall-complete at `threshold`),
    * then the threshold verify ([[jaccardScored]]'s relational form). */
  private[graft] def jaccardEdges(withShingles: DataFrame,
                                  threshold: Double): DataFrame =
    jaccardScored(withShingles, threshold).select("a", "b")

  def q45DupClusters(spark: SparkSession, dir: String): DataFrame = {
    val withShingles = q45ShingleTable(spark, dir)
    val edges = jaccardEdges(withShingles, threshold = 0.7)
    val comp = connectedComponents(edges, "a", "b")
    val sizes = comp.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    // Eagerly materialize the (tiny: one row per clustered doc) final
    // output so withShingles can be unpersisted HERE instead of leaking in
    // the shared bench/driver JVM — CacheManager holds persist() entries
    // strongly, so without this the shingle table is retained forever.
    // The loop's intermediate localCheckpoint blocks are unreferenced once
    // this returns and are reclaimed by the ContextCleaner on GC.
    val out = comp.join(sizes, "comp")
      .select(col("node").as("doc_id"), col("comp").as("cluster_id"),
        col("cluster_size"))
      .orderBy("doc_id")
      .localCheckpoint(true)
    withShingles.unpersist()
    out
  }

  // --------------------------------------------------------------- q364
  /** Soft-dedup sampling weights — the duplicate-aware TRAINING-MIX
    * alternative to dropping: instead of keeping one member per
    * near-dup cluster (q45's keep-min, priced by q247), every member
    * stays in the corpus with sampling weight 1/cluster_size, so each
    * duplicated passage contributes ONE document's worth of expected
    * gradient mass regardless of how many copies exist (the
    * down-weighting used when provenance or licensing requires keeping
    * all copies, and the standard soft variant of near-dedup in
    * LLM-data curation). Per source: document count, how many carry a
    * reduced weight, raw token mass, EFFECTIVE token mass
    * Σ n_tok/cluster_size, and the dedup discount 1 − eff/raw — the
    * number a mixture planner (q52/q307) feeds on instead of raw line
    * counts when sources differ in internal duplication.
    *
    * Exactness: cluster sizes and token counts are exact integers from
    * q45's oracle-certified clusters; each per-doc weighted term is one
    * IEEE division snapped at 9 dp into DECIMAL(22,9) (the q179/q257
    * snapped-term discipline), so the per-source sums are
    * order-independent exact decimals; the two reported doubles are
    * single casts/divisions snapped at 6 dp.
    *
    * Scale shape: q45's cluster build dominates (measured linear, r09);
    * on top ride one left join of the doc census against the (tiny)
    * cluster membership and one map-combinable per-source aggregate. */
  def q364SoftDedupWeights(spark: SparkSession, dir: String): DataFrame = {
    val clusters = q45DupClusters(spark, dir)
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"), col("source"))
    def variant(offset: Long, tail: String): DataFrame =
      base.select((col("doc_id") + offset).as("id"), col("source"),
        (if (tail.isEmpty) col("text") else concat(col("text"), lit(tail)))
          .as("text"))
    val docs = variant(0L, "")
      .unionByName(variant(100000L, " zz extra tail"))
      .unionByName(variant(200000L, " zz extra tail rr more pad"))
      .select(col("id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
    val weighted = docs
      .join(clusters.select(col("doc_id").as("id"), col("cluster_size")),
        Seq("id"), "left")
      .select(col("source"), col("n_tok"),
        coalesce(col("cluster_size"), lit(1L)).as("sz"))
    weighted.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("sz") > 1L, 1L).otherwise(0L)).as("n_weighted"),
        sum(col("n_tok")).as("raw_tokens"),
        sum(round(col("n_tok").cast("double") / col("sz").cast("double"), 9)
          .cast("decimal(22,9)")).as("eff_dec"))
      .select(col("source"), col("n_docs"), col("n_weighted"),
        col("raw_tokens"),
        (round(col("eff_dec").cast("double"), 6) + lit(0.0))
          .as("effective_tokens"),
        (round(lit(1.0) - col("eff_dec").cast("double") /
          col("raw_tokens").cast("double"), 6) + lit(0.0))
          .as("dedup_discount"))
      .orderBy("source")
  }

  lazy val q364Sql: String = q45Cte +
    """,src AS (
      |  SELECT doc_id, source FROM documents WHERE doc_id % 10 = 0),
      |toks AS (
      |  SELECT id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END
      |    AS BIGINT) AS n_tok
      |  FROM variants),
      |docs AS (
      |  SELECT t.id, s.source, t.n_tok
      |  FROM toks t JOIN src s ON t.id % 100000 = s.doc_id),
      |w AS (
      |  SELECT d.source, d.n_tok, COALESCE(z.n, 1) AS sz
      |  FROM docs d
      |  LEFT JOIN comp c ON d.id = c.node
      |  LEFT JOIN sizes z ON c.cluster_id = z.cluster_id)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_weighted,
      |  CAST(SUM(n_tok) AS BIGINT) AS raw_tokens,
      |  round(CAST(SUM(CAST(round(CAST(n_tok AS DOUBLE)
      |    / CAST(sz AS DOUBLE), 9) AS DECIMAL(22,9))) AS DOUBLE), 6) + 0.0
      |    AS effective_tokens,
      |  round(1.0 - CAST(SUM(CAST(round(CAST(n_tok AS DOUBLE)
      |    / CAST(sz AS DOUBLE), 9) AS DECIMAL(22,9))) AS DOUBLE)
      |    / CAST(SUM(n_tok) AS DOUBLE), 6) + 0.0 AS dedup_discount
      |FROM w GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q396
  /** Cluster-quality / chaining audit — the false-merge risk inherent
    * to connected-component dedup, measured on the operator's own
    * output: transitive closure happily merges A–B–C into one cluster
    * when A–C was never verified similar (the well-known chaining
    * failure of CC-based near-dedup; keep-one-per-cluster then deletes
    * documents that are NOT near-dups of the kept one). Per cluster:
    * member count, VERIFIED edge count, edge density 2E/(n(n−1)), the
    * weakest verified edge, and the clique flag — density 1 means every
    * pair was independently verified (merge is safe); anything lower is
    * exactly the chained case a curation reviewer must price. The q45
    * fixture exercises both shapes by construction: its A/B/C variant
    * triples form triangles where the two tails stay similar and chains
    * where A–C falls under the threshold.
    *
    * Exactness: edge counts and sizes are integers; density is ONE
    * 6-dp-snapped division of exact integers; the min edge Jaccard
    * minimizes values both engines compute through the identical
    * integer-set-size chain (the q45-proven spelling) and snaps at 6 dp;
    * the clique test is exact integer arithmetic (n(n−1) is even).
    *
    * Scale shape: q45's candidate/verify plan and CC build dominate
    * (measured linear, r09); on top ride one edge→cluster hash join and
    * a map-combinable per-cluster aggregate — both linear in the edge
    * set. No per-cluster quadratic work: the audit reads only verified
    * edges, never materializing non-edges. */
  def q396ClusterQuality(spark: SparkSession, dir: String): DataFrame = {
    val withShingles = q45ShingleTable(spark, dir)
    // r17: the verify runs through [[jaccardScored]]'s relational
    // intersection count — identical (a, b, j) rows, no per-pair
    // array_intersect.
    val edgesJ = jaccardScored(withShingles, 0.7)
      .localCheckpoint(true)
    val comp = connectedComponents(edgesJ.select("a", "b"), "a", "b")
    val sizes = comp.groupBy("comp").agg(count(lit(1)).as("n_members"))
    val per = edgesJ
      .join(comp.select(col("node").as("a"), col("comp")), "a")
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("n_edges"), min(col("j")).as("mj"))
    val out = per.join(sizes, "comp")
      .select(col("comp").as("cluster_id"), col("n_members"),
        col("n_edges"),
        (round(lit(2.0) * col("n_edges").cast("double") /
          (col("n_members") * (col("n_members") - 1)).cast("double"), 6)
          + lit(0.0)).as("density"),
        (round(col("mj"), 6) + lit(0.0)).as("min_edge_jaccard"),
        (col("n_edges") === col("n_members") * (col("n_members") - 1) / 2)
          .as("is_clique"))
      .orderBy("cluster_id")
      .localCheckpoint(true)
    withShingles.unpersist()
    out
  }

  lazy val q396Sql: String = q45Cte +
    """,ej AS (
      |  SELECT a, b,
      |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      |      / (len(sa.sh) + len(sb.sh)
      |         - len(list_intersect(sa.sh, sb.sh))) AS j
      |  FROM cand
      |  JOIN shs sa ON cand.a = sa.id
      |  JOIN shs sb ON cand.b = sb.id
      |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      |        / (len(sa.sh) + len(sb.sh)
      |           - len(list_intersect(sa.sh, sb.sh))) >= 0.7),
      |ec AS (
      |  SELECT c.cluster_id, e.j
      |  FROM ej e JOIN comp c ON e.a = c.node),
      |per AS (
      |  SELECT cluster_id, COUNT(*) AS n_edges, MIN(j) AS mj
      |  FROM ec GROUP BY cluster_id)
      |SELECT p.cluster_id, z.n AS n_members,
      |  CAST(p.n_edges AS BIGINT) AS n_edges,
      |  round(2.0 * p.n_edges
      |    / CAST(z.n * (z.n - 1) AS DOUBLE), 6) + 0.0 AS density,
      |  round(p.mj, 6) + 0.0 AS min_edge_jaccard,
      |  (p.n_edges = z.n * (z.n - 1) // 2) AS is_clique
      |FROM per p JOIN sizes z USING (cluster_id)
      |ORDER BY p.cluster_id""".stripMargin

  // --------------------------------------------------------------- q417
  /** Cluster-aware split certification — THE FIX for what q399
    * measures: a doc-level md5 split leaks near-duplicate pairs across
    * train/test because clone siblings hash independently; splitting by
    * the q45 CLUSTER key (every member of a near-dup component shares
    * its cluster_id; singletons keep their own id) sends whole
    * components to one side, so cross-split near-dup leakage is ZERO by
    * construction. Both policies are scored on the same corpus and the
    * same verified edge set: per policy, the split census and the
    * leaked (cross-split) vs contained (within-split) edge counts — the
    * doc-level row is q399's finding, the cluster-level row is the
    * certified repair (leaked = 0, asserted in spec), and the split
    * censuses show the price: group-atomic assignment moves whole
    * clusters, so the split proportions wobble slightly.
    *
    * Exactness: md5 split assignment and integer edge counts; the
    * leak share is ONE 6-dp-snapped division.
    *
    * Scale shape: q45's candidate/verify chain (measured linear, r09)
    * built ONCE and shared — the shingle table is persisted by its
    * builder and both the edge set and the cluster map derive from it;
    * policy scoring is two broadcast-joins of the edge list against
    * the doc→split maps and ONE map-combinable aggregate per policy. */
  def q417ClusterSplit(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.SplitQueries.splitFor
    val sh = q45ShingleTable(spark, dir)
    val edges = graft.plans.Eager.ckpt(jaccardEdges(sh, threshold = 0.7))
    val comp = connectedComponents(edges, "a", "b")
      .select(col("node").as("id"), col("comp").as("cluster_id"))
    val ids = sh.select(col("id"))
    val assign = graft.plans.Eager.ckpt(ids
      .join(comp, Seq("id"), "left")
      .select(col("id"),
        splitFor(col("id").cast("string")).as("doc_split"),
        splitFor(coalesce(col("cluster_id"), col("id")).cast("string"))
          .as("cluster_split")))
    sh.unpersist()
    def score(splitCol: String, policy: String): DataFrame = {
      val sa = assign.select(col("id").as("a"),
        col(splitCol).as("sa"))
      val sb = assign.select(col("id").as("b"),
        col(splitCol).as("sb"))
      val e = edges.join(sa, "a").join(sb, "b")
        .agg(count(lit(1)).as("n_edges"),
          sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L))
            .as("leaked_pairs"))
      val census = assign.groupBy(col(splitCol).as("s"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(when(col("s") === "train", col("c"))).as("n_train"),
          sum(when(col("s") === "val", col("c"))).as("n_val"),
          sum(when(col("s") === "test", col("c"))).as("n_test"))
      census.crossJoin(e).select(lit(policy).as("policy"),
        col("n_train"), col("n_val"), col("n_test"), col("n_edges"),
        col("leaked_pairs"),
        (round(col("leaked_pairs").cast("double") /
          col("n_edges").cast("double"), 6) + lit(0.0)).as("leak_share"))
    }
    score("doc_split", "doc_level")
      .unionAll(score("cluster_split", "cluster_aware"))
      .orderBy("policy")
  }

  lazy val q417Sql: String = {
    val split = (c: String) =>
      s"""CASE WHEN substr(md5('split:' || CAST($c AS VARCHAR)), 1, 2)
         |           < 'cc' THEN 'train'
         |         WHEN substr(md5('split:' || CAST($c AS VARCHAR)), 1, 2)
         |           < 'e6' THEN 'val'
         |         ELSE 'test' END""".stripMargin
    q45Cte +
      s""", assign AS (
      |  SELECT v.id,
      |    ${split("v.id")} AS doc_split,
      |    ${split("COALESCE(c.cluster_id, v.id)")} AS cluster_split
      |  FROM (SELECT id FROM variants) v
      |  LEFT JOIN comp c ON c.node = v.id),
      |pol(policy) AS (VALUES ('doc_level'), ('cluster_aware')),
      |scored AS (
      |  SELECT p.policy,
      |    CASE WHEN p.policy = 'doc_level' THEN a1.doc_split
      |         ELSE a1.cluster_split END AS sa,
      |    CASE WHEN p.policy = 'doc_level' THEN a2.doc_split
      |         ELSE a2.cluster_split END AS sb
      |  FROM edges e
      |  JOIN assign a1 ON a1.id = e.a
      |  JOIN assign a2 ON a2.id = e.b
      |  CROSS JOIN pol p),
      |eagg AS (
      |  SELECT policy, COUNT(*) AS n_edges,
      |    CAST(SUM(CASE WHEN sa <> sb THEN 1 ELSE 0 END) AS BIGINT)
      |      AS leaked_pairs
      |  FROM scored GROUP BY 1),
      |cagg AS (
      |  SELECT p.policy,
      |    CAST(SUM(CASE WHEN (CASE WHEN p.policy = 'doc_level'
      |        THEN doc_split ELSE cluster_split END) = 'train'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
      |    CAST(SUM(CASE WHEN (CASE WHEN p.policy = 'doc_level'
      |        THEN doc_split ELSE cluster_split END) = 'val'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
      |    CAST(SUM(CASE WHEN (CASE WHEN p.policy = 'doc_level'
      |        THEN doc_split ELSE cluster_split END) = 'test'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_test
      |  FROM assign CROSS JOIN pol p GROUP BY 1)
      |SELECT c.policy, n_train, n_val, n_test, n_edges, leaked_pairs,
      |  round(CAST(leaked_pairs AS DOUBLE) / CAST(n_edges AS DOUBLE), 6)
      |    + 0.0 AS leak_share
      |FROM cagg c JOIN eagg e ON c.policy = e.policy
      |ORDER BY c.policy""".stripMargin
  }

  // --------------------------------------------------------------- q427
  /** Edit-tolerance curve of the near-dup detector — WHERE the q45
    * operating point (3-shingles, Jaccard ≥ 0.7, prefix-filter
    * candidates) stops seeing an edited copy: for edit intensities
    * k ∈ {1, 2, 4, 8} token substitutions, every 10th document gets a
    * variant with k evenly-spaced tokens replaced by junk, and the
    * (original, variant) pairs are pushed through BOTH detector
    * stages — the prefix-filter candidate stage and the exact-Jaccard
    * verify. Per intensity: pair counts surfacing at each stage, their
    * shares, and the mean exact Jaccard — the measured robustness
    * curve a threshold choice trades against (each substitution kills
    * up to 3 shingles per side, so ~54-token docs pass at k ≤ 2 and
    * fall off the 0.7 cliff by k = 4). The candidate column documents
    * the prefix filter's grace zone: recall-complete above the
    * threshold by construction, it still surfaces many sub-threshold
    * pairs which the verify then correctly rejects.
    *
    * Exactness: the edit positions are integer arithmetic on token
    * index and doc length (identical construction in both engines);
    * Jaccard is exact rational arithmetic compared on identical
    * operands; per-pair jaccard snaps at 9 dp into a DECIMAL mean.
    *
    * Scale shape: the q45 candidate/verify chain (measured linear, and
    * past its one-time broadcast-step — see the r15 deep-multiplier
    * adjudication) on a 5×(n/10)-doc derived corpus; per-k rollups are
    * map-combinable aggregates over the planted-pair frame. */
  def q427EditTolerance(spark: SparkSession, dir: String): DataFrame = {
    val ks = Seq(1L, 2L, 4L, 8L)
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
      .withColumn("toks", TextFunctions.tokens(col("text")))
      .filter(size(col("toks")) > 0)
    def edited(k: Long): DataFrame = base.select(
      (col("doc_id") + k * 1000000000000L).as("id"),
      concat_ws(" ", expr(
        s"""transform(sequence(1, size(toks)), i ->
           |  CASE WHEN (i - 1) % greatest(1, size(toks) div $k) = 0
           |        AND (i - 1) div greatest(1, size(toks) div $k) < $k
           |       THEN concat('zzq', i)
           |       ELSE element_at(toks, i) END)""".stripMargin))
        .as("text"))
    val corpus = base.select(col("doc_id").as("id"), col("text"))
      .unionAll(ks.map(edited).reduce(_ unionAll _))
    val sh = corpus
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism,
        col("id"))
      .select(col("id"),
        array_distinct(TextFunctions.shingles(
          TextFunctions.tokens(col("text")), 3)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // planted pairs with their exact jaccard (the ground truth)
    val orig = sh.filter(col("id") < 1000000000000L)
      .select(col("id").as("a"), col("sh").as("sa"))
    val pairs = graft.plans.Eager.ckpt(
      ks.map { k =>
        sh.filter(col("id") >= k * 1000000000000L &&
            col("id") < (k + 1) * 1000000000000L)
          .select(lit(k).as("k_edits"),
            (col("id") - k * 1000000000000L).as("a"),
            col("id").as("b"), col("sh").as("sb"))
      }.reduce(_ unionAll _)
        .join(orig, "a")
        .select(col("k_edits"), col("a"), col("b"),
          round(TextFunctions.jaccard(col("sa"), col("sb")), 9)
            .cast("decimal(12,9)").as("j")))
    val cand = graft.plans.Eager.ckpt(
      prefixCandidatePairs(sh, t = 0.7)
        .select(col("a"), col("b"), lit(1L).as("is_cand")))
    sh.unpersist()
    pairs.join(cand, Seq("a", "b"), "left")
      .groupBy(col("k_edits"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("is_cand"), lit(0L))).as("n_candidates"),
        sum(when(col("j") >= 0.7, 1L).otherwise(0L)).as("n_verified"),
        sum(col("j")).as("jsum"))
      .select(col("k_edits"), col("n_pairs"), col("n_candidates"),
        r6(col("n_candidates").cast("double") /
          col("n_pairs").cast("double")).as("candidate_share"),
        col("n_verified"),
        r6(col("n_verified").cast("double") /
          col("n_pairs").cast("double")).as("verified_share"),
        r6(col("jsum").cast("double") / col("n_pairs").cast("double"))
          .as("avg_jaccard"))
      .orderBy("k_edits")
  }

  val q427Sql: String =
    """WITH base AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents
      |  WHERE doc_id % 10 = 0 AND length(trim(text)) > 0),
      |ks(k) AS (VALUES (CAST(1 AS BIGINT)), (2), (4), (8)),
      |corpus AS (
      |  SELECT doc_id AS id, array_to_string(toks, ' ') AS text
      |  FROM base
      |  UNION ALL
      |  SELECT doc_id + k * 1000000000000,
      |    array_to_string(list_transform(range(1, len(toks) + 1), i ->
      |      CASE WHEN (i - 1) % greatest(1, len(toks) // k) = 0
      |            AND (i - 1) // greatest(1, len(toks) // k) < k
      |           THEN 'zzq' || i
      |           ELSE toks[CAST(i AS INTEGER)] END), ' ')
      |  FROM base CROSS JOIN ks),
      |shs AS (
      |  SELECT id, list_distinct(
      |    CASE WHEN len(t2) < 3 THEN [array_to_string(t2, ' ')]
      |         ELSE list_transform(range(1, len(t2) - 1),
      |                i -> t2[i] || ' ' || t2[i+1] || ' ' || t2[i+2])
      |    END) AS sh
      |  FROM (SELECT id, regexp_split_to_array(trim(text), '\s+') AS t2
      |        FROM corpus)),
      |pairs AS (
      |  SELECT k.k AS k_edits, o.id AS a, v.id AS b,
      |    CAST(round(CAST(len(list_intersect(o.sh, v.sh)) AS DOUBLE)
      |      / (len(o.sh) + len(v.sh) - len(list_intersect(o.sh, v.sh))),
      |      9) AS DECIMAL(12,9)) AS j
      |  FROM ks k
      |  JOIN shs v ON v.id >= k.k * 1000000000000
      |            AND v.id < (k.k + 1) * 1000000000000
      |  JOIN shs o ON o.id = v.id - k.k * 1000000000000),
      |inv AS (
      |  SELECT DISTINCT id, unnest(sh) AS s FROM shs),
      |dfs AS (SELECT s, COUNT(*) AS df FROM inv GROUP BY s),
      |pref AS (
      |  SELECT id AS x, s FROM (
      |    SELECT i.id, i.s,
      |      row_number() OVER (PARTITION BY i.id
      |        ORDER BY d.df, i.s) AS rk,
      |      len(sh.sh) AS sz
      |    FROM inv i JOIN dfs d ON i.s = d.s
      |    JOIN shs sh ON sh.id = i.id)
      |  WHERE rk <= sz - CAST(ceil(sz * 0.7) AS BIGINT) + 1),
      |cand AS (
      |  SELECT DISTINCT LEAST(p.x, i.id) AS a, GREATEST(p.x, i.id) AS b
      |  FROM pref p JOIN inv i ON p.s = i.s AND p.x <> i.id)
      |SELECT k_edits, COUNT(*) AS n_pairs,
      |  CAST(SUM(CASE WHEN c.a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_candidates,
      |  round(CAST(SUM(CASE WHEN c.a IS NOT NULL THEN 1 ELSE 0 END)
      |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) + 0.0
      |    AS candidate_share,
      |  CAST(SUM(CASE WHEN j >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_verified,
      |  round(CAST(SUM(CASE WHEN j >= 0.7 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS verified_share,
      |  round(CAST(SUM(j) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
      |    + 0.0 AS avg_jaccard
      |FROM pairs p LEFT JOIN cand c ON p.a = c.a AND p.b = c.b
      |GROUP BY k_edits ORDER BY k_edits""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q427_edit_tolerance", q427EditTolerance _, q427Sql),
    Query("q417_cluster_split", q417ClusterSplit _, q417Sql),
    Query("q45_dup_clusters", q45DupClusters _,
      (q45Cte +
        """SELECT node AS doc_id, cluster_id, CAST(n AS BIGINT) AS cluster_size
          |FROM comp JOIN sizes USING (cluster_id)
          |ORDER BY doc_id""".stripMargin)),
    Query("q189_cluster_census", q189ClusterCensus _, q189Sql),
    Query("q198_similarity_histogram", q198SimilarityHistogram _, q198Sql),
    Query("q247_dedup_keep_audit", q247DedupKeepAudit _, q247Sql),
    Query("q364_soft_dedup_weights", q364SoftDedupWeights _, q364Sql),
    Query("q396_cluster_quality", q396ClusterQuality _, q396Sql))

  // --------------------------------------------------------------- q247
  /** Dedup keep-choice audit: q45's clusters keep the MIN-id member —
    * this measures what that convention costs. Per cluster, compare the
    * kept member's token count against the cluster's longest member;
    * report how often the kept doc IS the longest, and the total tokens
    * foregone by keeping a shorter copy. Pipelines that keep-by-id
    * (deterministic, join-free) should know the price vs
    * keep-best-quality (q56's richer survivorship); this query prices
    * it on the operator's own output.
    *
    * Exactness: token counts and per-cluster max / kept (min_by doc)
    * picks are exact; one double division for the share.
    *
    * Scale shape: q45's cluster build (its cost dominates) + one
    * member-token join and two census-scale aggregates. */
  def q247DedupKeepAudit(spark: SparkSession, dir: String): DataFrame = {
    val clusters = q45DupClusters(spark, dir)
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    def variant(offset: Long, tail: String): DataFrame =
      base.select((col("doc_id") + offset).as("id"),
        (if (tail.isEmpty) col("text") else concat(col("text"), lit(tail)))
          .as("text"))
    val toks = variant(0L, "")
      .unionByName(variant(100000L, " zz extra tail"))
      .unionByName(variant(200000L, " zz extra tail rr more pad"))
      .select(col("id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
    clusters.join(toks, col("doc_id") === col("id"))
      .groupBy(col("cluster_id"))
      .agg(max(col("n_tok")).as("max_tok"),
        min_by(col("n_tok"), col("doc_id")).as("kept_tok"))
      .agg(
        count(lit(1)).as("n_clusters"),
        sum(when(col("kept_tok") === col("max_tok"), 1L).otherwise(0L))
          .as("n_keep_longest"),
        sum(col("max_tok") - col("kept_tok")).as("tokens_foregone"))
      .select(col("n_clusters"), col("n_keep_longest"),
        (round(col("n_keep_longest").cast("double") /
          col("n_clusters").cast("double"), 6) + lit(0.0))
          .as("keep_longest_share"),
        col("tokens_foregone"))
  }

  // lazy: declared above q45Cte in source order, referenced only at
  // oracle-dump time
  lazy val q247Sql: String = q45Cte +
    """,toks AS (
      |  SELECT id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END
      |    AS BIGINT) AS n_tok
      |  FROM variants),
      |percl AS (
      |  SELECT cluster_id, MAX(n_tok) AS max_tok,
      |    min_by(n_tok, node) AS kept_tok
      |  FROM comp JOIN toks ON node = id GROUP BY 1)
      |SELECT COUNT(*) AS n_clusters,
      |  CAST(SUM(CASE WHEN kept_tok = max_tok THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_keep_longest,
      |  round(CAST(SUM(CASE WHEN kept_tok = max_tok THEN 1 ELSE 0 END)
      |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) + 0.0
      |    AS keep_longest_share,
      |  CAST(SUM(max_tok - kept_tok) AS BIGINT) AS tokens_foregone
      |FROM percl""".stripMargin

  /** The q45 cluster build as a reusable oracle CTE prefix (`comp` =
    * (node, cluster_id), `sizes` = (cluster_id, n)) shared by the q45
    * dump and the q189 census. */
  private val q45Cte: String =
    """WITH RECURSIVE
      |base AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
      |variants AS (
      |  SELECT doc_id AS id, text FROM base
      |  UNION ALL
      |  SELECT doc_id + 100000, text || ' zz extra tail' FROM base
      |  UNION ALL
      |  SELECT doc_id + 200000, text || ' zz extra tail rr more pad'
      |  FROM base),
      |shs AS (
      |  SELECT id, list_distinct(
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks) - 1),
      |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |    END) AS sh
      |  FROM (SELECT id, regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM variants)),
      |inv AS (
      |  SELECT DISTINCT * FROM (SELECT id, unnest(sh) AS s FROM shs)),
      |cand AS (
      |  SELECT DISTINCT i1.id AS a, i2.id AS b
      |  FROM inv i1 JOIN inv i2 USING (s)
      |  WHERE i1.id < i2.id),
      |edges AS (
      |  SELECT a, b
      |  FROM cand
      |  JOIN shs sa ON cand.a = sa.id
      |  JOIN shs sb ON cand.b = sb.id
      |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      |        / (len(sa.sh) + len(sb.sh)
      |           - len(list_intersect(sa.sh, sb.sh))) >= 0.7),
      |sym AS (
      |  SELECT a AS src, b AS dst FROM edges
      |  UNION
      |  SELECT b, a FROM edges),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM sym
      |  UNION
      |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
      |comp AS (
      |  SELECT src AS node, LEAST(src, MIN(dst)) AS cluster_id
      |  FROM reach GROUP BY src),
      |sizes AS (
      |  SELECT cluster_id, COUNT(*) AS n FROM comp GROUP BY cluster_id)
      |""".stripMargin

  // --------------------------------------------------------------- q198
  /** Similarity gray-zone census — the THRESHOLD-TUNING telemetry for
    * the whole near-dup family: every candidate pair with Jaccard ≥ 0.3
    * over the q45 corpus, bucketed into 0.05-wide similarity bins. A
    * dedup threshold is chosen by looking at exactly this histogram: a
    * valley between the "unrelated" mass and the "clone" mass says 0.7
    * is safe; mass piled against the threshold says matches are being
    * split. The prefix-filtered candidate stage runs at 0.3 — the
    * operator's recall-completeness contract extends to every bucket
    * reported, so the histogram is EXACT above 0.3, not a sample.
    *
    * Exactness: the bucket index is floor(20·j) on a Jaccard both
    * engines compute through identical chains from exact integer set
    * sizes (the q45-proven spelling), capped at bin 19; counts are
    * exact. Scale shape: q45's candidate plan (inverted-index equi-join
    * with df pruning) followed by one map-combinable census — strictly
    * cheaper than q45 itself (no CC rounds). */
  def q198SimilarityHistogram(spark: SparkSession, dir: String): DataFrame = {
    // r17 (guide §2.3 "shuffle keys, not payloads"): the verify runs
    // through [[jaccardScored]] — the prefix candidate stage is
    // unchanged (recall-complete at 0.3, same scale bound), but the
    // intersection is counted relationally against the inverted index
    // instead of re-intersecting the two shingle arrays per pair
    // (which the filter-pushdown duplication evaluated twice).
    // Measured 8.4 s → 2.1 s isolated at sf0.1; j is the identical
    // IEEE double (same exact integers, same division spelling).
    val withShingles = q45ShingleTable(spark, dir)
    val pairs = jaccardScored(withShingles, 0.3).select(col("j"))
    val out = pairs
      .select(least(floor(col("j") * lit(20.0)), lit(19.0)).cast("int")
        .as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("bucket"),
        (col("bucket").cast("double") / lit(20.0)).as("bucket_lo"),
        col("n_pairs"))
      .orderBy("bucket")
      .localCheckpoint(true)
    withShingles.unpersist()
    out
  }

  val q198Sql: String =
    """WITH base AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
      |variants AS (
      |  SELECT doc_id AS id, text FROM base
      |  UNION ALL
      |  SELECT doc_id + 100000, text || ' zz extra tail' FROM base
      |  UNION ALL
      |  SELECT doc_id + 200000, text || ' zz extra tail rr more pad'
      |  FROM base),
      |shs AS (
      |  SELECT id, list_distinct(
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks) - 1),
      |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |    END) AS sh
      |  FROM (SELECT id, regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM variants)),
      |inv AS (
      |  SELECT DISTINCT * FROM (SELECT id, unnest(sh) AS s FROM shs)),
      |cand AS (
      |  SELECT DISTINCT i1.id AS a, i2.id AS b
      |  FROM inv i1 JOIN inv i2 USING (s)
      |  WHERE i1.id < i2.id),
      |j AS (
      |  SELECT CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      |        / (len(sa.sh) + len(sb.sh)
      |           - len(list_intersect(sa.sh, sb.sh))) AS j
      |  FROM cand
      |  JOIN shs sa ON cand.a = sa.id
      |  JOIN shs sb ON cand.b = sb.id),
      |b AS (
      |  SELECT CAST(LEAST(floor(j * 20.0), 19.0) AS INTEGER) AS bucket
      |  FROM j WHERE j >= 0.3)
      |SELECT bucket, CAST(bucket AS DOUBLE) / 20.0 AS bucket_lo,
      |  COUNT(*) AS n_pairs
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  // --------------------------------------------------------------- q189
  /** Near-dup cluster-size census — the dedup TELEMETRY over q45's
    * clusters: for each cluster size, how many clusters and how many
    * documents they hold. The number a curation run reports ("38
    * clusters of size 3, 0 mega-clusters") and the canary for banding
    * bugs — a too-loose candidate stage shows up here as one giant
    * cluster long before anyone inspects pairs. Runs the SAME operator
    * as q45 (PPJoin candidates → large-star/small-star CC) and
    * collapses its output; the oracle reuses q45's recursive-CTE prefix
    * verbatim, so the census is certified against the identical
    * fixpoint. All-integer output. */
  def q189ClusterCensus(spark: SparkSession, dir: String): DataFrame =
    q45DupClusters(spark, dir)
      .groupBy(col("cluster_size"))
      .agg(countDistinct(col("cluster_id")).as("n_clusters"),
        count(lit(1)).as("n_docs"))
      .orderBy("cluster_size")

  val q189Sql: String = q45Cte +
    """SELECT CAST(n AS BIGINT) AS cluster_size, COUNT(*) AS n_clusters,
      |  CAST(SUM(n) AS BIGINT) AS n_docs
      |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin
}
