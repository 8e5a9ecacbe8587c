package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.TextFunctions._

/** Benchmark decontamination + repetition-based quality signals — the two
  * remaining must-haves of a pretraining curation pipeline (extension
  * scope: the reference's processing stops at string cleaning,
  * `dags/src/processor.py:59-61`; it has no text operators at all).
  *
  * q48 — decontamination: a training corpus must not contain the
  * evaluation benchmarks. The standard check is word-n-gram overlap: a
  * document whose shingles largely appear in the holdout/benchmark set is
  * contaminated and dropped. Here the "benchmark" is derived
  * deterministically from the fixture (doc_id % 10 == 7) so both engines
  * replay it; in production it is a real eval-set table of the same tiny
  * shape.
  *
  * Scale posture (q48): benchmark sets are small (thousands of docs, ~10⁶
  * distinct n-grams) against a 100 TB corpus, so the holdout shingle set
  * is BROADCAST and the overlap count is a map-side semi-join on the
  * exploded corpus shingles — one shuffle total (the per-doc count
  * aggregation, map-side combinable). No corpus-side collect, no
  * all-pairs anything.
  *
  * q49 — repetition signals (the Gopher-style quality filters q23's
  * length/stopword features don't cover): duplicate-line fraction,
  * duplicate-2-gram fraction, and top-2-gram mass (the mass of the single
  * most frequent 2-gram). Excessively repetitive documents are low
  * quality regardless of their length stats.
  *
  * Scale posture (q49): per-line stats are cheap per-row array ops; the
  * per-gram counts deliberately use explode → two-level hash aggregation
  * keyed on (doc_id, gram) — codegen'd, map-side-partial, one shuffle —
  * instead of an O(tokens · distinct-grams) per-row lambda scan, which
  * would be quadratic in document length on the longest (= worst) docs.
  */
object DecontamQueries {

  private def withShingles(spark: SparkSession, dir: String, n: Int): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      // single-file fixture scan = ONE partition; spread BEFORE the
      // shingling lambdas and the explodes below or they run on one core
      // (q29's lesson). At scale the scan supplies the splits and this is
      // a cheap shuffle of raw text rows.
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), col("lang"),
        array_distinct(shingles(tokens(col("text")), n)).as("sh"))

  // ---------------------------------------------------------------- q48
  /** Per-corpus-doc benchmark overlap: n_shingles, n_hit (distinct
    * 3-gram shingles also present in the holdout set), overlap_frac, and
    * the drop verdict at the 0.5 threshold. Docs with zero overlap are
    * reported too — a decontamination report must show clean docs as
    * clean, not omit them. */
  def q48Decontam(spark: SparkSession, dir: String): DataFrame = {
    // the shingle table feeds THREE consumers (holdout set, corpus hit
    // explode, corpus n_shingles) — persist it so the per-doc shingling
    // lambdas run once, and release it after the (tiny) report is
    // materialized (q42's persist-then-eager-output convention)
    val docs = withShingles(spark, dir, 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val holdout = docs.filter(col("doc_id") % 10 === 7)
      .select(explode(col("sh")).as("s")).distinct()
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    // sh is already distinct per doc, so explode emits distinct
    // (doc_id, shingle) rows; the broadcast semi-join keeps the hits
    val hits = corpus
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .join(broadcast(holdout), Seq("s"), "leftsemi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    val out = corpus
      .select(col("doc_id"), col("lang"), size(col("sh")).as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("overlap_frac",
        col("n_hit").cast("double") / col("n_shingles").cast("double"))
      .withColumn("drop_doc", (col("overlap_frac") >= 0.5).cast("int"))
      .orderBy("doc_id")
      .localCheckpoint(true)
    docs.unpersist()
    out
  }

  /** DuckDB twin: same derived holdout, same shingle recipe (q45's SQL
    * convention: short docs collapse to one whole-doc shingle), overlap
    * counted through the same distinct-shingle join. Fractions are exact
    * int/int double divisions — bit-identical across engines. */
  val q48Sql: String =
    """WITH shs AS (
      |  SELECT doc_id, lang, list_distinct(
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks) - 1),
      |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |    END) AS sh
      |  FROM (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents)),
      |holdout AS (
      |  SELECT DISTINCT unnest(sh) AS s FROM shs WHERE doc_id % 10 = 7),
      |corpus AS (
      |  SELECT * FROM shs WHERE doc_id % 10 != 7),
      |hits AS (
      |  SELECT doc_id, COUNT(*) AS n_hit
      |  FROM (SELECT doc_id, unnest(sh) AS s FROM corpus) e
      |  JOIN holdout USING (s)
      |  GROUP BY doc_id)
      |SELECT c.doc_id, c.lang, CAST(len(c.sh) AS INTEGER) AS n_shingles,
      |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
      |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(len(c.sh) AS DOUBLE)
      |    AS overlap_frac,
      |  CAST(CASE WHEN CAST(COALESCE(h.n_hit, 0) AS DOUBLE)
      |              / CAST(len(c.sh) AS DOUBLE) >= 0.5
      |       THEN 1 ELSE 0 END AS INTEGER) AS drop_doc
      |FROM corpus c LEFT JOIN hits h USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q49
  /** Per-doc repetition signals: duplicate-line fraction, duplicate-
    * 2-gram fraction, and top-2-gram mass. The fixture corpus has no
    * newlines, so dup_line_frac is exercised structurally (always 0 here)
    * while the 2-gram signals vary — both stay in the oracle hash. */
  def q49Repetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
      // spread the single-file scan before the per-row shingling/explode
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    val lines = docs
      .withColumn("lines", split(col("text"), "\n", -1))
      .select(col("doc_id"), col("lang"),
        size(col("lines")).as("n_lines"),
        ((size(col("lines")) - size(array_distinct(col("lines"))))
          .cast("double") / size(col("lines")).cast("double"))
          .as("dup_line_frac"))
    val gramStats = docs
      .select(col("doc_id"),
        explode(shingles(tokens(col("text")), 2)).as("g"))
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum("cnt").as("n_2grams"),
        count(lit(1)).as("n_distinct_2grams"),
        max("cnt").as("top_cnt"))
      .select(col("doc_id"), col("n_2grams"),
        ((col("n_2grams") - col("n_distinct_2grams")).cast("double")
          / col("n_2grams").cast("double")).as("dup_2gram_frac"),
        (col("top_cnt").cast("double") / col("n_2grams").cast("double"))
          .as("top_2gram_mass"))
    lines.join(gramStats, "doc_id")
      .select(col("doc_id"), col("lang"), col("n_lines"),
        col("dup_line_frac"), col("n_2grams"), col("dup_2gram_frac"),
        col("top_2gram_mass"))
      .orderBy("doc_id")
  }

  val q49Sql: String =
    """WITH d AS (
      |  SELECT doc_id, lang, text,
      |    regexp_split_to_array(trim(text), '\s+') AS toks,
      |    string_split(text, chr(10)) AS lines
      |  FROM documents),
      |l AS (
      |  SELECT doc_id, lang,
      |    CAST(len(lines) AS INTEGER) AS n_lines,
      |    CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
      |      / CAST(len(lines) AS DOUBLE) AS dup_line_frac
      |  FROM d),
      |grams AS (
      |  SELECT doc_id, unnest(
      |    CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks)),
      |                i -> toks[i] || ' ' || toks[i+1])
      |    END) AS g
      |  FROM d),
      |cnts AS (
      |  SELECT doc_id, g, COUNT(*) AS cnt FROM grams GROUP BY doc_id, g),
      |gs AS (
      |  SELECT doc_id,
      |    CAST(SUM(cnt) AS BIGINT) AS n_2grams,
      |    CAST(SUM(cnt) - COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
      |      AS dup_2gram_frac,
      |    CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
      |      AS top_2gram_mass
      |  FROM cnts GROUP BY doc_id)
      |SELECT l.doc_id, l.lang, l.n_lines, l.dup_line_frac,
      |  gs.n_2grams, gs.dup_2gram_frac, gs.top_2gram_mass
      |FROM l JOIN gs USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q116
  /** q48's decontamination report computed through the BLOOM-PRUNED
    * plan ([[graft.operators.BloomPrune.prunedSemiJoin]]): the holdout
    * shingle set collapses to one broadcast bloom filter, the exploded
    * corpus shingles are pruned MAP-SIDE at the scan, and only the
    * survivors (true hits + the bloom's small false-positive mass) pay
    * the exact semi-join. The exact verify means the RESULT is
    * byte-identical to q48's — same oracle — while the plan is the one
    * that survives a holdout set too large to broadcast as a hash
    * relation: the full corpus shingle stream never shuffles, only the
    * pruned remnant does. */
  def q116BloomDecontam(spark: SparkSession, dir: String): DataFrame = {
    val docs = withShingles(spark, dir, 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val holdout = docs.filter(col("doc_id") % 10 === 7)
      .select(explode(col("sh")).as("s")).distinct()
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val hits = graft.operators.BloomPrune.prunedSemiJoin(
        corpus.select(col("doc_id"), explode(col("sh")).as("s")),
        holdout, "s", expectedItems = 1L << 20, numBits = 1L << 23)
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    val out = corpus
      .select(col("doc_id"), col("lang"), size(col("sh")).as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("overlap_frac",
        col("n_hit").cast("double") / col("n_shingles").cast("double"))
      .withColumn("drop_doc", (col("overlap_frac") >= 0.5).cast("int"))
      .orderBy("doc_id")
      .localCheckpoint(true)
    docs.unpersist()
    out
  }

  // --------------------------------------------------------------- q430
  /** Pipeline-order audit: dedup → decontam vs decontam → dedup. The
    * two stages do not commute: keep-min dedup (q45's convention)
    * elects a representative BEFORE knowing it is contaminated, and
    * dropping a contaminated representative afterwards erases the
    * whole cluster even when a clean sibling existed — decontam-first
    * (equivalently, electing the min-id among CLEAN members) rescues
    * exactly those clusters. On the q45 near-dup corpus scored against
    * the q48 holdout shingle set (cut at 0.2 — deliberately tighter
    * than q48's registered 0.5 so the interaction is populated; a
    * variant's appended tail grows its shingle denominator, so bases
    * cross the cut their variants do not): group counts, dirty counts,
    * survivors under each order, and the rescued clusters — the
    * measured reason curation pipelines decontaminate BEFORE electing
    * dedup representatives.
    *
    * Semantics: group-atomic (a cluster is q45's component; singletons
    * are their own group); decontam-first keeps one clean member per
    * group with ≥ 1 clean member (min-id among clean — sub-component
    * splits after removal would only ADD survivors, so the reported
    * rescue count is a lower bound, noted here by design).
    *
    * Exactness: overlap fractions are identical single divisions in
    * both engines compared to the same literal; everything else is
    * integer census arithmetic.
    *
    * Scale shape: q45's candidate/verify chain (measured linear,
    * post-step — the r15 adjudication) + ONE broadcast semi-join of
    * the corpus shingle stream against the holdout set (the q48
    * plan), then a group census and a 1-row summary. */
  def q430PipelineOrder(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.DupClusters
    val sh = DupClusters.q45ShingleTable(spark, dir)
    // edges materialize FIRST (one job, also filling the shared shingle
    // cache); the decontam probe — a separate holdout corpus scan — is
    // then independent of the CC contraction rounds, so it overlaps them
    // on a single worker thread (guide §2.6, the q437 discipline): the
    // CC rounds are small barrier-laden jobs that leave most cores idle.
    // Byte-identical results — the same jobs, just concurrent.
    val edges = DupClusters.jaccardEdges(sh, threshold = 0.7)
      .localCheckpoint(true)
    val holdout = withShingles(spark, dir, 3)
      .filter(col("doc_id") % 10 === 7)
      .select(explode(col("sh")).as("s")).distinct()
    val hitsPlan = sh.select(col("id"), explode(col("sh")).as("s"))
      .join(broadcast(holdout), Seq("s"), "leftsemi")
      .groupBy("id").agg(count(lit(1)).as("n_hit"))
    // Overlap.two carries the failure contract (r17 ADVICE): if the CC
    // rounds throw on the driver thread, the probe future is cancelled
    // best-effort instead of left running detached against the shared
    // shingle cache, and ExecutionException is unwrapped.
    val (comp, hits) = graft.plans.Overlap.two(
      DupClusters.connectedComponents(edges, "a", "b")
        .select(col("node").as("id"), col("comp")),
      hitsPlan.localCheckpoint(true))
    val flagged = sh.select(col("id"), size(col("sh")).as("nsh"))
      .join(hits, Seq("id"), "left")
      .withColumn("dirty",
        coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("nsh").cast("double") >= 0.2)
      .join(comp, Seq("id"), "left")
      .withColumn("grp", coalesce(col("comp"), col("id")))
    sh.unpersist()
    val groups = flagged.groupBy(col("grp"))
      .agg(count(lit(1)).as("members"),
        sum(when(!col("dirty"), 1L).otherwise(0L)).as("n_clean"),
        min(col("id")).as("rep"),
        min(when(!col("dirty"), col("id"))).as("clean_rep"))
    groups.agg(
        sum(col("members")).as("n_docs"),
        count(lit(1)).as("n_groups"),
        sum(col("members") - col("n_clean")).as("n_dirty_docs"),
        sum(when(col("rep") === col("clean_rep"), 1L).otherwise(0L))
          .as("kept_dedup_first"),
        sum(when(col("n_clean") > 0, 1L).otherwise(0L))
          .as("kept_decontam_first"),
        sum(when(col("rep") =!= col("clean_rep") && col("n_clean") > 0,
          1L).otherwise(0L)).as("groups_rescued"),
        sum(when(col("n_clean") === 0, 1L).otherwise(0L))
          .as("groups_fully_dirty"))
      .select(col("n_docs"), col("n_groups"), col("n_dirty_docs"),
        col("kept_dedup_first"), col("kept_decontam_first"),
        col("groups_rescued"), col("groups_fully_dirty"),
        (round(col("groups_rescued").cast("double") /
          col("n_groups").cast("double"), 6) + lit(0.0))
          .as("rescued_share"))
  }

  val q430Sql: String =
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
      |hold AS (
      |  SELECT DISTINCT unnest(list_distinct(
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks) - 1),
      |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |    END)) AS s
      |  FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents WHERE doc_id % 10 = 7)),
      |hits AS (
      |  SELECT id, COUNT(*) AS n_hit
      |  FROM inv JOIN hold USING (s) GROUP BY id),
      |flagged AS (
      |  SELECT shs.id,
      |    COALESCE(h.n_hit, 0)::DOUBLE / len(shs.sh) >= 0.2 AS dirty,
      |    COALESCE(c.cluster_id, shs.id) AS grp
      |  FROM shs
      |  LEFT JOIN hits h ON shs.id = h.id
      |  LEFT JOIN comp c ON shs.id = c.node),
      |groups AS (
      |  SELECT grp, COUNT(*) AS members,
      |    CAST(SUM(CASE WHEN dirty THEN 0 ELSE 1 END) AS BIGINT)
      |      AS n_clean,
      |    MIN(id) AS rep,
      |    MIN(CASE WHEN dirty THEN NULL ELSE id END) AS clean_rep
      |  FROM flagged GROUP BY grp)
      |SELECT CAST(SUM(members) AS BIGINT) AS n_docs,
      |  COUNT(*) AS n_groups,
      |  CAST(SUM(members - n_clean) AS BIGINT) AS n_dirty_docs,
      |  CAST(SUM(CASE WHEN rep = clean_rep THEN 1 ELSE 0 END) AS BIGINT)
      |    AS kept_dedup_first,
      |  CAST(SUM(CASE WHEN n_clean > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS kept_decontam_first,
      |  CAST(SUM(CASE WHEN rep <> clean_rep AND n_clean > 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS groups_rescued,
      |  CAST(SUM(CASE WHEN n_clean = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS groups_fully_dirty,
      |  round(CAST(SUM(CASE WHEN rep <> clean_rep AND n_clean > 0
      |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
      |    + 0.0 AS rescued_share
      |FROM groups""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q48_decontam", q48Decontam _, q48Sql),
    Query("q49_repetition", q49Repetition _, q49Sql),
    Query("q430_pipeline_order", q430PipelineOrder _, q430Sql),
    // identical output contract to q48 — the bloom is plan-side only
    Query("q116_bloom_decontam", q116BloomDecontam _, q48Sql))
}
