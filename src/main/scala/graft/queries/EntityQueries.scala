package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.ExactMath.r6

/** Entity resolution by blocked fuzzy string matching: find same-length
  * name pairs within levenshtein distance 1 — the dedup primitive for
  * dirty dimension data (typo'd customer/vendor names), sibling of the
  * document near-dup family (q22/q27/q55).
  *
  * Scale shape — the pigeonhole blocking q27 uses for simhash, applied
  * to strings: equal-length strings at levenshtein ≤ 1 differ by at most
  * ONE substitution, and the changed position lands in exactly one of
  * any two disjoint position sets — so the pair agrees EXACTLY on the
  * other set. Candidates are the union of two equi-self-joins on
  * (length, position-set projection) — recall-COMPLETE at the threshold
  * with no all-pairs pass anywhere; the exact levenshtein runs only on
  * candidates. The position sets are INTERLEAVED (even/odd characters),
  * not contiguous halves: real-world ids and names concentrate their
  * entropy in a suffix or infix (every name here shares the literal
  * prefix "Customer#"), and a contiguous first-half key would collapse
  * to one corpus-sized block — an all-pairs join in disguise. Striding
  * spreads whatever positions vary across BOTH keys. Cross-length
  * matches — pure insert/delete edits — are q88's deletion-neighborhood
  * (SymSpell) blocking below.
  *
  * Every value is an integer or string — no float conventions needed for
  * the cross-engine hash; the DuckDB oracle is the brute-force all-pairs
  * scan, so a hash match CERTIFIES the blocking lost no pair (the q26
  * oracle pattern).
  */
object EntityQueries {

  /** Characters at odd positions 1,3,5,… (`keep1`) or even 2,4,6,…:
    * each regex match consumes two chars and keeps one. */
  private def stride(c: Column, keepFirst: Boolean): Column =
    if (keepFirst) regexp_replace(c, "(.).?", "$1")
    else regexp_replace(c, ".(.)?", "$1")

  /** Blocked candidate pairs (id_1 < id_2), recall-complete for
    * same-length substitution edits. Package-visible so the spec can
    * assert the candidate count stays far below all-pairs. */
  private[graft] def candidatePairs(c: DataFrame): DataFrame = {
    def side(tag: String) = c.select(
      col("id").as(s"id_$tag"), col("name").as(s"name_$tag"),
      col("len").as(s"len_$tag"), col("h1").as(s"h1_$tag"),
      col("h2").as(s"h2_$tag"))
    val a = side("1"); val b = side("2")
    val byH1 = a.join(b,
      col("len_1") === col("len_2") && col("h1_1") === col("h1_2") &&
        col("id_1") < col("id_2"))
    val byH2 = a.join(b,
      col("len_1") === col("len_2") && col("h2_1") === col("h2_2") &&
        col("id_1") < col("id_2"))
    val cols = Seq("id_1", "id_2", "name_1", "name_2")
    byH1.select(cols.map(col): _*)
      .unionAll(byH2.select(cols.map(col): _*))
      .distinct() // a pair agreeing on BOTH halves appears in both blocks
  }

  /** [[candidatePairs]] with the exact verify applied BEFORE the dedup:
    * the levenshtein runs map-side on the raw block output (strings are
    * short; the predicate is cheap relative to a shuffle), so the
    * distinct's exchange carries only surviving pairs — ~5× fewer rows
    * than deduping the candidate stream first. Same result: a dist-1
    * pair's changed position falls in exactly one half, so it surfaces
    * in exactly one block; only dist-0 (identical-name) pairs dedup. */
  private def verifiedPairs(c: DataFrame): DataFrame = {
    def side(tag: String) = c.select(
      col("id").as(s"id_$tag"), col("name").as(s"name_$tag"),
      col("len").as(s"len_$tag"), col("h1").as(s"h1_$tag"),
      col("h2").as(s"h2_$tag"))
    // Parallelism follows input splits: a dimension-sized table arrives
    // as ONE split, which would serialize the O(candidates) levenshtein
    // verify onto one core (measured 7.6 s at sf0.1). Repartitioning the
    // PROBE side only (one skinny-row shuffle) buys the cluster's full
    // width for the verify while the build side stays a plain
    // scan→broadcast. The partition count must be EXPLICIT: a bare
    // repartition(col) is REPARTITION_BY_COL, which AQE happily
    // coalesces right back to one partition on byte-size grounds —
    // exactly the serialization this exchange exists to break.
    val n = side("1").sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val a = side("1").repartition(n, col("id_1")); val b = side("2")
    def block(h: String) = a.join(b,
        col(s"len_1") === col(s"len_2") &&
          col(s"${h}_1") === col(s"${h}_2") &&
          col("id_1") < col("id_2"))
      .select(col("id_1"), col("id_2"), col("name_1"), col("name_2"),
        // threshold form: the DP aborts once the running minimum
        // exceeds 1 (returns -1), instead of filling the full matrix
        levenshtein(col("name_1"), col("name_2"), 1).as("dist"))
      .filter(col("dist") >= 0)
    block("h1").unionAll(block("h2")).distinct()
  }

  // ---------------------------------------------------------------- q81
  def q81FuzzyNames(spark: SparkSession, dir: String): DataFrame = {
    val c = Kpis.table(spark, dir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
      .withColumn("len", length(col("name")))
      .withColumn("h1", stride(col("name"), keepFirst = true))
      .withColumn("h2", stride(col("name"), keepFirst = false))
    verifiedPairs(c).orderBy("id_1", "id_2")
  }

  val q81Sql: String =
    """SELECT a.c_custkey AS id_1, b.c_custkey AS id_2,
      |  a.c_name AS name_1, b.c_name AS name_2,
      |  CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
      |FROM customer a JOIN customer b
      |  ON a.c_custkey < b.c_custkey
      |  AND length(a.c_name) = length(b.c_name)
      |WHERE levenshtein(a.c_name, b.c_name) <= 1
      |ORDER BY id_1, id_2""".stripMargin

  // ---------------------------------------------------------------- q88
  /** SymSpell deletion-neighborhood blocking — the cross-length
    * completion of q81: every string's block keys are ITSELF plus all
    * single-character deletions. Any pair at levenshtein ≤ 1 shares a
    * key: a substitution pair meets at the variant deleting the changed
    * position from both; an insert/delete pair meets at the shorter
    * string itself (= one of the longer's deletion variants); identical
    * strings meet at themselves. Recall-complete for the FULL lev ≤ 1
    * relation, not just same-length — at |s|+1 keys per row instead of
    * q81's two.
    *
    * Derived corpus: customer names ∪ a typo'd variant of every 7th name
    * (one character deleted at a name-dependent position; clone ids
    * offset +1000000 — the q55 derived-corpus convention), so the
    * cross-length path is actually exercised and the all-pairs oracle
    * certifies it.
    *
    * Scale shape: the key index is an explode (≤ |s|+1 entries per row,
    * dedup'd), candidates come from one equi-self-join on the key, the
    * exact verify runs before the pair-dedup (the q81 ordering), and the
    * probe side is explicitly repartitioned for the same
    * single-input-split reason. */
  def q88SymspellNames(spark: SparkSession, dir: String): DataFrame =
    symspellCandidates(spark, dir)
      .select(col("id_1"), col("id_2"), col("name_1"), col("name_2"),
        levenshtein(col("name_1"), col("name_2"), 1).as("dist"))
      .filter(col("dist") >= 0) // -1 = early-exited past the threshold
      .distinct() // a pair may share several keys
      .orderBy("id_1", "id_2")

  /** q88's derived corpus: customer names ∪ a typo'd variant of every
    * 7th name (one character deleted at a name-dependent position).
    * Shared with q409's blocking-strategy census. */
  private[graft] def typoCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = Kpis.table(spark, dir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    // clone-id offset far above any real custkey at ANY scale factor
    // (custkey grows with SF; a fixture-sized offset like 1e6 would
    // collide with real ids beyond ~sf7)
    val typos = base.filter(col("id") % 7 === 0)
      .select((col("id") + 1000000000000L).as("id"),
        // delete the (id mod len)+1-th character
        concat(
          substr(col("name"), lit(1), pmod(col("id"), length(col("name")))),
          substr(col("name"),
            pmod(col("id"), length(col("name"))) + lit(2),
            length(col("name")))).as("name"))
    base.unionAll(typos)
  }

  /** Raw symspell candidate pair stream (id_1 < id_2; NOT dedup'd — a
    * pair may surface under several shared deletion keys). q88 verifies
    * then dedups; q409 counts the distinct pairs as the strategy's
    * candidate cost. */
  private[graft] def symspellCandidates(spark: SparkSession,
      dir: String): DataFrame = {
    val corpus = typoCorpus(spark, dir)
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // key set: self ∪ all delete-1 variants (dedup'd — deleting any char
    // of a run yields the same string)
    val keyed = corpus.select(col("id"), col("name"),
        explode(array_distinct(concat(
          array(col("name")),
          transform(sequence(lit(1), length(col("name"))),
            i => concat(substr(col("name"), lit(1), i - 1),
              substr(col("name"), i + 1, length(col("name")))))
        ))).as("key"))
      .repartition(nPart, col("key"))
    val a = keyed.select(col("id").as("id_1"), col("name").as("name_1"),
      col("key"))
    val b = keyed.select(col("id").as("id_2"), col("name").as("name_2"),
      col("key"))
    a.join(b, Seq("key"))
      .filter(col("id_1") < col("id_2"))
      .select(col("id_1"), col("id_2"), col("name_1"), col("name_2"))
  }

  val q88Sql: String =
    """WITH corpus AS (
      |  SELECT c_custkey AS id, c_name AS name FROM customer
      |  UNION ALL
      |  SELECT c_custkey + 1000000000000,
      |    substr(c_name, 1, CAST(c_custkey % length(c_name) AS INTEGER))
      |      || substr(c_name,
      |           CAST(c_custkey % length(c_name) AS INTEGER) + 2,
      |           length(c_name))
      |  FROM customer WHERE c_custkey % 7 = 0)
      |SELECT a.id AS id_1, b.id AS id_2,
      |  a.name AS name_1, b.name AS name_2,
      |  CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
      |FROM corpus a JOIN corpus b
      |  ON a.id < b.id
      |WHERE levenshtein(a.name, b.name) <= 1
      |ORDER BY id_1, id_2""".stripMargin

  // --------------------------------------------------------------- q191
  /** Entity-resolution clusters — the transitive-closure completion of
    * q81's PAIRS: connected components over the verified lev ≤ 1 match
    * graph, reported as a cluster-size census. Pairwise ER under-merges
    * (A≈B, B≈C with A,C two edits apart still name ONE entity); the
    * standard fix is exactly this — components over the match graph —
    * and the census is the audit number: a mega-cluster here means the
    * match threshold chains unrelated entities (as TPC-H's sequential
    * customer names deliberately do), which is precisely what an ER
    * operator must surface before anyone merges records.
    *
    * Spark side: q81's blocked equi-join pair generation feeding
    * [[graft.operators.DupClusters.connectedComponents]] (large-star/
    * small-star, O(log n) rounds). Oracle: the same closure as a
    * recursive CTE over the identical pair set (q45's fixpoint
    * pattern). All-integer output: hash-safe.
    *
    * Scale shape: pair generation is q81's (equi-join on blocking keys,
    * measured 10.1× at 10×); CC shuffles only the edge table per round
    * and the census is a two-level rollup. */
  def q191EntityClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = q81FuzzyNames(spark, dir).select(col("id_1"), col("id_2"))
    graft.operators.DupClusters
      .connectedComponents(pairs, "id_1", "id_2")
      .groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_entities"))
      .orderBy("cluster_size")
  }

  val q191Sql: String =
    """WITH RECURSIVE pairs AS (
      |  SELECT a.c_custkey AS id_1, b.c_custkey AS id_2
      |  FROM customer a JOIN customer b
      |    ON a.c_custkey < b.c_custkey
      |    AND length(a.c_name) = length(b.c_name)
      |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
      |sym AS (
      |  SELECT id_1 AS src, id_2 AS dst FROM pairs
      |  UNION
      |  SELECT id_2, id_1 FROM pairs),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM sym
      |  UNION
      |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
      |comp AS (
      |  SELECT src AS node, LEAST(src, MIN(dst)) AS comp
      |  FROM reach GROUP BY src),
      |sizes AS (
      |  SELECT comp, COUNT(*) AS n FROM comp GROUP BY comp)
      |SELECT CAST(n AS BIGINT) AS cluster_size, COUNT(*) AS n_clusters,
      |  CAST(SUM(n) AS BIGINT) AS n_entities
      |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q295
  /** Jaro-Winkler near-name pairs over the part-name VOCABULARY — the
    * record-linkage scorer the edit-distance family (q81 levenshtein
    * blocking, q88 SymSpell) doesn't cover: JW rewards shared prefixes
    * and forgives transpositions, the error shapes of human-keyed names.
    * Scored by the native codegen'd
    * [[org.apache.spark.sql.graft.JaroWinkler]] expression, whose
    * semantics are pinned to DuckDB's `jaro_winkler_similarity` (the
    * oracle) and fuzz-verified bit-identical on 7,000 random pairs —
    * so this query is simultaneously the expression's cross-engine
    * certification. Emitted scores snap to 6 dp (shared-grid convention).
    *
    * Scale shape: pairs are DISTINCT-NAME census² (64 names here; a
    * catalog vocabulary, not a fact table — it grows with the product
    * grid, not with order volume), evaluated as a broadcast
    * nested-loop over the census. Fact-scale ER stays on the blocked
    * q81/q88 paths; this is the scorer certification at census scope. */
  def q295JwNamePairs(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.jaroWinkler
    val names = Kpis.table(spark, dir, "part")
      .select(col("p_name").as("name")).distinct()
    val jw = round(jaroWinkler(col("name_a"), col("name_b")), 6)
    names.select(col("name").as("name_a"))
      .join(broadcast(names.select(col("name").as("name_b"))),
        col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"), jw.as("jw"))
      .filter(col("jw") >= 0.7)
      .orderBy("name_a", "name_b")
  }

  val q295Sql: String =
    """WITH names AS (SELECT DISTINCT p_name AS name FROM part)
      |SELECT a.name AS name_a, b.name AS name_b,
      |  round(jaro_winkler_similarity(a.name, b.name), 6) AS jw
      |FROM names a JOIN names b ON a.name < b.name
      |WHERE round(jaro_winkler_similarity(a.name, b.name), 6) >= 0.7
      |ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q409
  /** Blocking-strategy decision table — the COST/RECALL census behind
    * the choice q81 and q88 each hard-code: on the q88 typo corpus,
    * four standard ER blocking schemes are priced against the complete
    * lev ≤ 1 truth (q88's deletion-neighborhood verify, which is
    * recall-complete for that relation by construction). Per strategy:
    * exact candidate-pair count (the verify bill), true matches its
    * blocks retain, recall against the full relation, and
    * pairs-per-match (the cost of one found match). `len_only`'s row is
    * the cautionary one — TPC-H names are fixed-width, so length-only
    * blocking IS the quadratic all-pairs bill; its candidate count is
    * computed from the length census in closed form (Σ n·(n−1)/2), so
    * the query itself never materializes the quadratic pair set.
    *
    * Exactness: candidate counts for the single-key strategies are
    * integer census arithmetic; the stride strategy's OR-of-two-keys
    * count is inclusion-exclusion over three key censuses (pairs
    * matching h1, plus h2, minus both); symspell's is the distinct
    * count of the registered candidate stream; matches are conditional
    * counts over the verified truth annotated with both sides' keys.
    * recall / pairs_per_match are single 6-dp-snapped divisions.
    *
    * Scale shape: the symspell candidate build (measured linear, the
    * q88 plan) is eagerly materialized ONCE and shared by the truth
    * verify and the candidate count; every other term is a
    * census-bounded groupBy over the dimension-scale name table; the
    * final assembly crossJoins seven 1-row frames. */
  def q409BlockingPlan(spark: SparkSession, dir: String): DataFrame = {
    val feat = typoCorpus(spark, dir).select(col("id"),
      length(col("name")).as("len"),
      stride(col("name"), keepFirst = true).as("h1"),
      stride(col("name"), keepFirst = false).as("h2"),
      substring(col("name"), 1, 4).as("p4"))
    val raw = graft.plans.Eager.ckpt(symspellCandidates(spark, dir))
    val truth = raw
      .withColumn("dist", levenshtein(col("name_1"), col("name_2"), 1))
      .filter(col("dist") >= 0)
      .select(col("id_1"), col("id_2")).distinct()
    def side(t: String) = feat.select(col("id").as(s"id_$t"),
      col("len").as(s"len_$t"), col("h1").as(s"h1_$t"),
      col("h2").as(s"h2_$t"), col("p4").as(s"p4_$t"))
    val m = truth.join(side("1"), "id_1").join(side("2"), "id_2")
      .agg(count(lit(1)).as("m_all"),
        sum(when(col("len_1") === col("len_2"), 1L).otherwise(0L))
          .as("m_len"),
        sum(when(col("len_1") === col("len_2") &&
          (col("h1_1") === col("h1_2") || col("h2_1") === col("h2_2")),
          1L).otherwise(0L)).as("m_stride"),
        sum(when(col("p4_1") === col("p4_2"), 1L).otherwise(0L))
          .as("m_p4"))
    def pairsOf(keys: Seq[Column], out: String): DataFrame =
      feat.groupBy(keys: _*).agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as(out))
    val one = m
      .crossJoin(pairsOf(Seq(col("len")), "c_len"))
      .crossJoin(pairsOf(Seq(col("p4")), "c_p4"))
      .crossJoin(pairsOf(Seq(col("len"), col("h1")), "c_lh1"))
      .crossJoin(pairsOf(Seq(col("len"), col("h2")), "c_lh2"))
      .crossJoin(pairsOf(Seq(col("len"), col("h1"), col("h2")), "c_lh12"))
      .crossJoin(raw.select(col("id_1"), col("id_2")).distinct()
        .agg(count(lit(1)).as("c_ss")))
    one.select(col("m_all"), expr("stack(4, " +
        "'symspell', c_ss, m_all, " +
        "'len_stride', c_lh1 + c_lh2 - c_lh12, m_stride, " +
        "'prefix4', c_p4, m_p4, " +
        "'len_only', c_len, m_len) " +
        "as (strategy, n_candidates, n_matches)"))
      .select(col("strategy"), col("n_candidates"), col("n_matches"),
        r6(col("n_matches").cast("double") / col("m_all").cast("double"))
          .as("recall"),
        when(col("n_matches") === 0L, lit(null).cast("double"))
          .otherwise(r6(col("n_candidates").cast("double") /
            col("n_matches").cast("double"))).as("pairs_per_match"))
      .orderBy("strategy")
  }

  val q409Sql: String =
    """WITH corpus AS (
      |  SELECT c_custkey AS id, c_name AS name FROM customer
      |  UNION ALL
      |  SELECT c_custkey + 1000000000000,
      |    substr(c_name, 1, CAST(c_custkey % length(c_name) AS INTEGER))
      |      || substr(c_name,
      |           CAST(c_custkey % length(c_name) AS INTEGER) + 2,
      |           length(c_name))
      |  FROM customer WHERE c_custkey % 7 = 0),
      |feat AS (
      |  SELECT id, name, length(name) AS len,
      |    regexp_replace(name, '(.).?', '\1', 'g') AS h1,
      |    regexp_replace(name, '.(.)?', '\1', 'g') AS h2,
      |    substr(name, 1, 4) AS p4
      |  FROM corpus),
      |truth AS (
      |  SELECT a.id AS id_1, b.id AS id_2,
      |    a.len AS len_1, b.len AS len_2, a.h1 AS h1_1, b.h1 AS h1_2,
      |    a.h2 AS h2_1, b.h2 AS h2_2, a.p4 AS p4_1, b.p4 AS p4_2
      |  FROM feat a JOIN feat b ON a.id < b.id
      |  WHERE levenshtein(a.name, b.name) <= 1),
      |m AS (
      |  SELECT COUNT(*) AS m_all,
      |    SUM(CASE WHEN len_1 = len_2 THEN 1 ELSE 0 END) AS m_len,
      |    SUM(CASE WHEN len_1 = len_2
      |      AND (h1_1 = h1_2 OR h2_1 = h2_2) THEN 1 ELSE 0 END)
      |      AS m_stride,
      |    SUM(CASE WHEN p4_1 = p4_2 THEN 1 ELSE 0 END) AS m_p4
      |  FROM truth),
      |c_len AS (SELECT COALESCE(SUM(n * (n - 1) // 2), 0) AS c FROM
      |  (SELECT COUNT(*) AS n FROM feat GROUP BY len)),
      |c_p4 AS (SELECT COALESCE(SUM(n * (n - 1) // 2), 0) AS c FROM
      |  (SELECT COUNT(*) AS n FROM feat GROUP BY p4)),
      |c_lh1 AS (SELECT COALESCE(SUM(n * (n - 1) // 2), 0) AS c FROM
      |  (SELECT COUNT(*) AS n FROM feat GROUP BY len, h1)),
      |c_lh2 AS (SELECT COALESCE(SUM(n * (n - 1) // 2), 0) AS c FROM
      |  (SELECT COUNT(*) AS n FROM feat GROUP BY len, h2)),
      |c_lh12 AS (SELECT COALESCE(SUM(n * (n - 1) // 2), 0) AS c FROM
      |  (SELECT COUNT(*) AS n FROM feat GROUP BY len, h1, h2)),
      |keys AS (
      |  SELECT id, unnest(list_distinct(list_prepend(name,
      |    list_transform(range(1, length(name) + 1),
      |      i -> substr(name, 1, i - 1)
      |        || substr(name, i + 1, length(name)))))) AS key
      |  FROM corpus),
      |c_ss AS (
      |  SELECT COUNT(*) AS c FROM (
      |    SELECT DISTINCT k1.id, k2.id
      |    FROM keys k1 JOIN keys k2 USING (key) WHERE k1.id < k2.id)),
      |s AS (
      |  SELECT strategy, n_candidates, n_matches, m_all FROM m,
      |  LATERAL (VALUES
      |    ('symspell', (SELECT c FROM c_ss), m_all),
      |    ('len_stride',
      |      (SELECT c FROM c_lh1) + (SELECT c FROM c_lh2)
      |        - (SELECT c FROM c_lh12), m_stride),
      |    ('prefix4', (SELECT c FROM c_p4), m_p4),
      |    ('len_only', (SELECT c FROM c_len), m_len))
      |    AS v(strategy, n_candidates, n_matches))
      |SELECT strategy, CAST(n_candidates AS BIGINT) AS n_candidates,
      |  CAST(n_matches AS BIGINT) AS n_matches,
      |  round(CAST(n_matches AS DOUBLE) / CAST(m_all AS DOUBLE), 6)
      |    + 0.0 AS recall,
      |  CASE WHEN n_matches = 0 THEN NULL
      |    ELSE round(CAST(n_candidates AS DOUBLE)
      |      / CAST(n_matches AS DOUBLE), 6) + 0.0
      |  END AS pairs_per_match
      |FROM s ORDER BY strategy""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q409_blocking_plan", q409BlockingPlan _, q409Sql),
    Query("q295_jw_name_pairs", q295JwNamePairs _, q295Sql),
    Query("q81_fuzzy_names", q81FuzzyNames _, q81Sql),
    Query("q88_symspell_names", q88SymspellNames _, q88Sql),
    Query("q191_entity_clusters", q191EntityClusters _, q191Sql))
}
