package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.TextFunctions._

/** Frequency-mining operators over the corpus and the order stream:
  * exact distributed heavy hitters (the two-pass Misra-Gries candidate
  * prune), directed association rules (support/confidence/lift), and
  * fixed-round label propagation over the co-purchase graph. All three
  * are the "what dominates this data?" primitives a training-data
  * pipeline runs before curation decisions; the reference's analytics
  * stop at flat GROUP-BYs (reference `dags/process_sales_dags.py`
  * report queries), so these extend the same tables to the mining tier.
  */
object MiningQueries {

  // --------------------------------------------------------------- q160
  /** Exact heavy hitters over word BIGRAMS: every bigram whose count
    * strictly exceeds total/640, with its exact count and share — via
    * the classic TWO-PASS distributed algorithm: (1) per-partition
    * Misra-Gries summaries with k=640 counters (if an item's global
    * frequency exceeds N/k it must exceed N_p/k in at least one
    * partition, so the UNION of per-partition MG survivors is a
    * guaranteed superset of the heavy hitters — no false negatives);
    * (2) exact recount of the candidates only, then the threshold
    * filter. The RESULT is identical to the naive full groupBy — the
    * MG pass is pure plan optimization, which is what makes the exact
    * SQL twin valid.
    *
    * Scale shape: this is THE pattern for frequency mining when the
    * key cardinality (distinct n-grams in a 100 TB corpus: billions)
    * dwarfs the heavy-hitter budget: the naive groupBy shuffles every
    * distinct key; MG caps map-side state at k counters per partition
    * and ships ≤ k·partitions candidate rows, so the only full-width
    * traffic is the broadcast candidate set riding a semi-join into
    * the recount. The fixture's vocabulary (~10³ bigrams) is near the
    * k=640 budget so the prune is visible but mild; at corpus scale
    * the candidate set is k·P ≪ vocabulary. The MG loop is genuine
    * per-partition imperative state — the documented `mapPartitions`
    * niche (decrement step is O(k) amortized O(1) per item).
    *
    * Docs with <2 tokens carry no bigram and drop on both sides
    * ([[shingles]] would otherwise collapse them to a whole-doc
    * shingle). */
  def q160HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 640
    val bg = Kpis.table(spark, dir, "documents")
      .select(tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(shingles(col("toks"), 2)).as("bigram"))
      .localCheckpoint()
    val candidates = bg.select(col("bigram")).as[String]
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { t =>
          m.get(t) match {
            case Some(c) => m.update(t, c + 1)
            case None if m.size < k => m.update(t, 1L)
            case None =>
              val dead = List.newBuilder[String]
              m.mapValuesInPlace((_, c) => c - 1)
              m.foreach { case (key, c) => if (c == 0) dead += key }
              dead.result().foreach(m.remove)
          }
        }
        m.keysIterator
      }.toDF("bigram").distinct()
    val total = bg.agg(count(lit(1)).as("total"))
    bg.join(broadcast(candidates), Seq("bigram"), "leftsemi")
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .filter(col("n") * lit(k.toLong) > col("total"))
      .select(col("bigram"), col("n"),
        (col("n").cast("double") / col("total").cast("double")).as("share"))
      .orderBy(col("n").desc, col("bigram").asc)
  }

  val q160Sql: String =
    """WITH d AS (
      |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |d2 AS (SELECT toks FROM d WHERE len(toks) >= 2),
      |pos AS (
      |  SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
      |  FROM d2),
      |bg AS (SELECT toks[i] || ' ' || toks[i + 1] AS bigram FROM pos),
      |c AS (SELECT bigram, COUNT(*) AS n FROM bg GROUP BY 1),
      |t AS (SELECT SUM(n) AS total FROM c)
      |SELECT bigram, n,
      |  CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share
      |FROM c, t
      |WHERE n * 640 > total
      |ORDER BY n DESC, bigram ASC""".stripMargin

  // --------------------------------------------------------------- q161
  /** Directed association rules A→B over order baskets with support
    * ≥ 3: confidence = P(B|A) = n_both/n_a and lift = confidence /
    * P(B). Extends q92's undirected co-purchase pairs to the DIRECTED
    * rule form a recommender consumes — each surviving pair emits both
    * directions, which differ in confidence whenever the antecedent
    * frequencies differ.
    *
    * Scale shape: identical to q92's — pairs explode ORDER-LOCALLY
    * from each basket's sorted distinct-part array (never a corpus
    * self-join), one shuffle of Σ C(|basket|,2) pair rows with
    * map-side combine, item counts attach AQE-sized, the 1-row order
    * total broadcasts. Counts are exact integers; confidence and lift
    * are single double divisions spelled identically in the twin. */
  def q161AssocRules(spark: SparkSession, dir: String): DataFrame = {
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
      .filter(col("n_both") >= 3)
    val directed = pairs.select(col("pa").as("antecedent"),
        col("pb").as("consequent"), col("n_both"))
      .union(pairs.select(col("pb"), col("pa"), col("n_both")))
    directed
      .join(partCounts.select(col("part").as("antecedent"),
        col("n").as("n_ante")), "antecedent")
      .join(partCounts.select(col("part").as("consequent"),
        col("n").as("n_cons")), "consequent")
      .crossJoin(broadcast(nOrders))
      .select(col("antecedent"), col("consequent"), col("n_both"),
        col("n_ante"), col("n_cons"),
        (col("n_both").cast("double") / col("n_ante").cast("double"))
          .as("confidence"),
        ((col("n_both").cast("double") * col("n_orders").cast("double")) /
          (col("n_ante").cast("double") * col("n_cons").cast("double")))
          .as("lift"))
      .orderBy(col("confidence").desc, col("antecedent").asc,
        col("consequent").asc)
  }

  val q161Sql: String =
    """WITH baskets AS (
      |  SELECT l_orderkey,
      |    list_sort(list_distinct(list(l_partkey))) AS parts
      |  FROM lineitem GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_orders FROM baskets),
      |parts AS (SELECT unnest(parts) AS part, l_orderkey FROM baskets),
      |pc AS (SELECT part, COUNT(*) AS n FROM parts GROUP BY 1),
      |pairs AS (
      |  SELECT a.part AS pa, b.part AS pb, COUNT(*) AS n_both
      |  FROM parts a JOIN parts b
      |    ON a.l_orderkey = b.l_orderkey AND a.part < b.part
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= 3),
      |directed AS (
      |  SELECT pa AS antecedent, pb AS consequent, n_both FROM pairs
      |  UNION ALL
      |  SELECT pb, pa, n_both FROM pairs)
      |SELECT antecedent, consequent, n_both,
      |  ca.n AS n_ante, cb.n AS n_cons,
      |  CAST(n_both AS DOUBLE) / CAST(ca.n AS DOUBLE) AS confidence,
      |  (CAST(n_both AS DOUBLE) * CAST(n_orders AS DOUBLE))
      |    / (CAST(ca.n AS DOUBLE) * CAST(cb.n AS DOUBLE)) AS lift
      |FROM directed
      |JOIN pc ca ON directed.antecedent = ca.part
      |JOIN pc cb ON directed.consequent = cb.part
      |CROSS JOIN n
      |ORDER BY confidence DESC, antecedent ASC, consequent ASC""".stripMargin

  // --------------------------------------------------------------- q162
  /** Community detection by FIXED-ROUND min-label propagation (3
    * synchronous rounds) on the support ≥ 2 co-purchase graph: every
    * part starts labeled with its own id; each round every node takes
    * the MINIMUM label among itself and its neighbors. Three rounds
    * find each node's smallest id within graph distance 3 — a
    * deterministic, oracle-replayable community assignment (and the
    * building block of the large-star CC in [[graft.operators.DupClusters]],
    * here exposed as its own bounded-round operator: production LPA
    * runs a fixed round budget precisely so the cost is k·|E| instead
    * of diameter-dependent).
    *
    * Scale shape: per round, ONE shuffle of the symmetric edge list
    * joined to the current labels on the src id plus a min-agg on the
    * dst id — k·|E| total traffic for k rounds, the canonical Pregel
    * cost. Labels checkpoint each round so the lineage stays flat.
    * Everything is exact integer min — bit-exact in the unrolled CTE
    * twin. */
  /** The co-purchase part graph + 3-round min-label propagation shared
    * by q162/q402: (pairs, sym, labels) — undirected support-≥2 edges
    * (pa < pb), both directions, and the final (node, label) table. */
  private[graft] def partGraph(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
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
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= 2)
    val sym = pairs.select(col("pa").as("src"), col("pb").as("dst"))
      .union(pairs.select(col("pb"), col("pa")))
      .localCheckpoint()
    var labels = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to 3) {
      val fromNeighbors = sym
        .join(labels, col("src") === col("node"))
        .select(col("dst").as("node"), col("label"))
      labels = labels.union(fromNeighbors)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
        .localCheckpoint()
    }
    (pairs, sym, labels)
  }

  def q162LabelProp(spark: SparkSession, dir: String): DataFrame = {
    val (_, _, labels) = partGraph(spark, dir)
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("community_size"))
    labels.join(sizes, "label")
      .select(col("node").as("part"), col("label").as("community"),
        col("community_size"))
      .orderBy("part")
  }

  val q162Sql: String =
    """WITH baskets AS (
      |  SELECT l_orderkey,
      |    list_sort(list_distinct(list(l_partkey))) AS parts
      |  FROM lineitem GROUP BY 1),
      |parts AS (SELECT unnest(parts) AS part, l_orderkey FROM baskets),
      |pairs AS (
      |  SELECT a.part AS pa, b.part AS pb
      |  FROM parts a JOIN parts b
      |    ON a.l_orderkey = b.l_orderkey AND a.part < b.part
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= 2),
      |sym AS (
      |  SELECT pa AS src, pb AS dst FROM pairs
      |  UNION ALL
      |  SELECT pb, pa FROM pairs),
      |l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
      |l1 AS (
      |  SELECT l.node, LEAST(l.label, MIN(n.label)) AS label
      |  FROM l0 l JOIN sym e ON e.dst = l.node
      |  JOIN l0 n ON n.node = e.src
      |  GROUP BY l.node, l.label),
      |l2 AS (
      |  SELECT l.node, LEAST(l.label, MIN(n.label)) AS label
      |  FROM l1 l JOIN sym e ON e.dst = l.node
      |  JOIN l1 n ON n.node = e.src
      |  GROUP BY l.node, l.label),
      |l3 AS (
      |  SELECT l.node, LEAST(l.label, MIN(n.label)) AS label
      |  FROM l2 l JOIN sym e ON e.dst = l.node
      |  JOIN l2 n ON n.node = e.src
      |  GROUP BY l.node, l.label),
      |sizes AS (
      |  SELECT label, COUNT(*) AS community_size FROM l3 GROUP BY 1)
      |SELECT node AS part, l3.label AS community, community_size
      |FROM l3 JOIN sizes ON l3.label = sizes.label
      |ORDER BY part""".stripMargin

  // --------------------------------------------------------------- q402
  /** Newman modularity of the q162 communities — the partition-quality
    * certificate the label-propagation output needs before anyone acts
    * on it (a community assignment with Q near 0 is noise; the audit
    * sibling of q396's density check for near-dup clusters): per
    * community, node count, INTRA-community edge count, degree sum, and
    * its modularity contribution E_c/m − (D_c/2m)². The sum of the
    * contribution column is the partition's Q.
    *
    * Exactness: m, E_c, D_c are exact integers (each undirected edge
    * counted once; degrees off the symmetrized edge list); the
    * contribution is ONE fixed-order IEEE expression spelled identically
    * in the twin — x/m − t·t with t = d/(2·m) — snapped at 6 dp.
    *
    * Scale shape: q162's measured plan (basket pair explosion + 3
    * bounded join rounds) dominates; on top ride two hash joins of the
    * edge list against the label table and map-combinable per-community
    * aggregates — linear in edges. The 1-row m frame broadcasts. */
  def q402Modularity(spark: SparkSession, dir: String): DataFrame = {
    val (pairs, sym, labels) = partGraph(spark, dir)
    val m1 = pairs.agg(count(lit(1)).as("m"))
    val intra = pairs
      .join(labels.select(col("node").as("pa"), col("label").as("ca")),
        "pa")
      .join(labels.select(col("node").as("pb"), col("label").as("cb")),
        "pb")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca")).agg(count(lit(1)).as("intra_edges"))
      .withColumnRenamed("ca", "label")
    val degc = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .join(labels, col("node") === col("src"))
      .groupBy(col("label")).agg(sum(col("deg")).as("degree_sum"))
    labels.groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
      .join(degc, "label")
      .join(intra, Seq("label"), "left")
      .crossJoin(m1)
      .select(col("label").as("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"),
        (round(coalesce(col("intra_edges"), lit(0L)).cast("double") /
          col("m").cast("double") -
          (col("degree_sum").cast("double") /
            (lit(2.0) * col("m").cast("double"))) *
          (col("degree_sum").cast("double") /
            (lit(2.0) * col("m").cast("double"))), 6) + lit(0.0))
          .as("contribution"))
      .orderBy("community")
  }

  val q402Sql: String = {
    // reuse q162's chain through l3, then the modularity census
    val chain = q162Sql.substring(0, q162Sql.indexOf("sizes AS ("))
    s"""${chain}m1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs),
      |intra AS (
      |  SELECT la.label, CAST(COUNT(*) AS BIGINT) AS intra_edges
      |  FROM pairs p
      |  JOIN l3 la ON p.pa = la.node
      |  JOIN l3 lb ON p.pb = lb.node
      |  WHERE la.label = lb.label
      |  GROUP BY la.label),
      |degc AS (
      |  SELECT l.label, CAST(SUM(d.deg) AS BIGINT) AS degree_sum
      |  FROM (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src) d
      |  JOIN l3 l ON l.node = d.src
      |  GROUP BY l.label),
      |nn AS (SELECT label, COUNT(*) AS n_nodes FROM l3 GROUP BY label)
      |SELECT nn.label AS community, nn.n_nodes,
      |  COALESCE(i.intra_edges, 0) AS intra_edges, degc.degree_sum,
      |  round(CAST(COALESCE(i.intra_edges, 0) AS DOUBLE)
      |      / CAST(m AS DOUBLE)
      |    - (CAST(degree_sum AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
      |      * (CAST(degree_sum AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))),
      |    6) + 0.0 AS contribution
      |FROM nn
      |JOIN degc ON nn.label = degc.label
      |LEFT JOIN intra i ON nn.label = i.label
      |CROSS JOIN m1
      |ORDER BY community""".stripMargin
  }

  def queries: Seq[Query] = Seq(
    Query("q160_heavy_hitters", q160HeavyHitters _, q160Sql),
    Query("q161_assoc_rules", q161AssocRules _, q161Sql),
    Query("q162_label_prop", q162LabelProp _, q162Sql),
    Query("q402_modularity", q402Modularity _, q402Sql))
}
