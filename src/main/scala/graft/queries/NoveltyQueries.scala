package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.TextFunctions._

/** Corpus novelty/diversity scoring — the curation signals that rank
  * documents by how much NEW content they contribute: trigram novelty
  * (share of a doc's shingles it is the earliest carrier of) and
  * character entropy (the compression-ratio proxy that catches
  * keyboard-mash and boilerplate at opposite ends of the scale).
  */
object NoveltyQueries {

  import graft.functions.ExactMath.ln9

  // --------------------------------------------------------------- q141
  /** Per-document trigram novelty: over each doc's DISTINCT word
    * trigrams, the fraction whose earliest corpus occurrence (min
    * doc_id) is this very doc. Rank-by-novelty is the greedy
    * first-pass of corpus selection: near-1 docs carry fresh content,
    * near-0 docs restate what an earlier doc already contributed —
    * the cross-document complement of q49's within-doc repetition.
    *
    * Scale shape: explode → array_distinct keeps per-doc dedup local;
    * then NO pair-level join — joining the min-doc table back onto the
    * (doc, trigram) pair stream would shuffle the full pair set twice
    * (13.6 s at sf0.1, the suite's slowest plan). Instead both outputs
    * are map-combinable aggregates over the one pair stream: per-doc
    * distinct counts directly, and first-carrier credits via
    * min(doc_id)-per-trigram re-aggregated BY THAT WINNING DOC —
    * the only join left is doc-level (entity-sized, AQE-broadcast).
    * The pair stream is localCheckpoint'd so tokenize+explode runs
    * once, not once per consumer (q112's multi-consumer convention).
    * Docs under 3 tokens have no trigram and drop (documented:
    * novelty is undefined on them). */
  def q141TrigramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val d = Kpis.table(spark, dir, "documents")
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) >= 3)
    val tg = d.select(col("doc_id"),
      explode(array_distinct(shingles(col("toks"), 3))).as("tg"))
      .localCheckpoint()
    val perDoc = tg.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct_trigrams"))
    val novel = tg.groupBy(col("tg")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel0"))
    perDoc.join(novel, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_distinct_trigrams"),
        coalesce(col("n_novel0"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") /
          col("n_distinct_trigrams").cast("double"))
      .orderBy("doc_id")
  }

  val q141Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |d3 AS (SELECT * FROM d WHERE len(toks) >= 3),
      |pos AS (
      |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
      |  FROM d3),
      |tg AS (
      |  SELECT DISTINCT doc_id,
      |    toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS tg
      |  FROM pos),
      |first AS (SELECT tg, MIN(doc_id) AS first_doc FROM tg GROUP BY 1)
      |SELECT doc_id, COUNT(*) AS n_distinct_trigrams,
      |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_novel,
      |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS novelty
      |FROM tg JOIN first USING (tg)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q142
  /** Per-document character entropy (nats) over normalized text — the
    * cheap compressibility proxy: repeated boilerplate and single-key
    * mash sit near 0, natural prose clusters tightly by language, and
    * random noise tops out near ln(alphabet). Flagging both tails is
    * a standard pre-training quality filter.
    *
    * Scale shape: chars come from ONE split-by-empty-pattern pass —
    * NOT transform(sequence, i => substr(i, 1)), whose per-char seek is
    * O(i) on variable-width UTF-8 (quadratic per document; measured
    * 7.9 s → this form, with identical CJK semantics in both engines).
    * The (doc, char) census is a map-combinable hash agg; per-doc
    * totals are a window OVER THE CENSUS partitioned by doc_id
    * (alphabet-sized groups, shuffled once on doc_id, which the final
    * per-doc agg then reuses). Weighted-log exactness recipe as in
    * InfoQueries. */
  def q142CharEntropy(spark: SparkSession, dir: String): DataFrame = {
    val d = Kpis.table(spark, dir, "documents")
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .filter(length(col("norm")) > 0)
    val census = d
      .select(col("doc_id"), explode(split(col("norm"), "")).as("ch"))
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("cnt"))
    census
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("doc_id"))))
      .select(col("doc_id"), col("cnt"), col("n"),
        (ln9(col("cnt").cast("double") / col("n").cast("double")) * col("cnt"))
          .as("hw"))
      .groupBy(col("doc_id"))
      .agg(
        max(col("n")).as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        (-(sum(col("hw")).cast("double") / max(col("n")).cast("double"))
          + lit(0.0)).as("entropy_nats"))
      .orderBy("doc_id")
  }

  val q142Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
      |  FROM documents
      |  WHERE length(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) > 0),
      |pos AS (
      |  SELECT doc_id, norm, unnest(generate_series(1, length(norm))) AS i
      |  FROM d),
      |census AS (
      |  SELECT doc_id, substr(norm, i, 1) AS ch, COUNT(*) AS cnt
      |  FROM pos GROUP BY 1, 2),
      |m AS (
      |  SELECT doc_id, cnt, SUM(cnt) OVER (PARTITION BY doc_id) AS n
      |  FROM census)
      |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_chars,
      |  COUNT(*) AS n_distinct_chars,
      |  -(CAST(SUM(CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)), 9)
      |              AS DECIMAL(12,9)) * cnt) AS DOUBLE)
      |    / CAST(MAX(n) AS DOUBLE)) + 0.0 AS entropy_nats
      |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q152
  /** Greedy coverage-maximizing selection (facility-location greedy):
    * K=3 rounds of "pick the document adding the most trigrams not yet
    * covered" (ties → smallest doc_id) — the 1−1/e-approximate
    * submodular selector behind coverage-driven corpus subsampling,
    * where q141 SCORES docs individually and this picks a SET whose
    * members complement each other.
    *
    * Scale shape: the PageRank-style driver loop — K iterations, each
    * one distributed anti-join + count aggregate over the (doc,
    * trigram) pair stream, with ONLY the 1-row winner collected per
    * round and the covered set kept as a (checkpointed) DataFrame, so
    * nothing corpus-sized ever reaches the driver. The oracle unrolls
    * the identical 3 rounds as CTEs.
    *
    * Output is all-integer (step, winner, marginal gain, cumulative
    * distinct coverage): hash-safe. */
  def q152GreedyCover(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tg = Kpis.table(spark, dir, "documents")
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("toks"), 3))).as("tg"))
      .localCheckpoint()
    var covered = tg.filter(lit(false)).select(col("tg"))
    var picked = Seq.empty[Long]
    // headOption + takeWhile: when fewer than K documents have any
    // uncovered trigram (tiny or fully-duplicated corpus) the round's
    // aggregate is empty — emit only the completed steps, mirroring the
    // oracle's empty-CTE degradation, instead of crashing (ADVICE r11)
    val steps = (1 to 3).iterator.map { step =>
      val winner = tg
        .filter(!col("doc_id").isInCollection(
          if (picked.isEmpty) Seq(-1L) else picked))
        .join(covered, Seq("tg"), "left_anti")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("doc_id")).limit(1)
        .as[(Long, Long)].collect().headOption
      winner.map { w =>
        picked :+= w._1
        covered = covered
          .union(tg.filter(col("doc_id") === w._1).select(col("tg")))
          .distinct().localCheckpoint()
        (step, w._1, w._2, covered.count())
      }
    }.takeWhile(_.isDefined).flatten.toSeq
    steps.toDF("step", "doc_id", "gain", "covered")
      .orderBy("step")
  }

  val q152Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |d3 AS (SELECT * FROM d WHERE len(toks) >= 3),
      |pos AS (
      |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
      |  FROM d3),
      |tg AS (
      |  SELECT DISTINCT doc_id,
      |    toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS tg
      |  FROM pos),
      |p1 AS (
      |  SELECT doc_id, COUNT(*) AS gain FROM tg GROUP BY 1
      |  ORDER BY gain DESC, doc_id LIMIT 1),
      |c1 AS (
      |  SELECT DISTINCT tg FROM tg
      |  WHERE doc_id = (SELECT doc_id FROM p1)),
      |p2 AS (
      |  SELECT t.doc_id, COUNT(*) AS gain FROM tg t
      |  WHERE t.doc_id != (SELECT doc_id FROM p1)
      |    AND NOT EXISTS (SELECT 1 FROM c1 WHERE c1.tg = t.tg)
      |  GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1),
      |c2 AS (
      |  SELECT tg FROM c1 UNION
      |  SELECT DISTINCT tg FROM tg WHERE doc_id = (SELECT doc_id FROM p2)),
      |p3 AS (
      |  SELECT t.doc_id, COUNT(*) AS gain FROM tg t
      |  WHERE t.doc_id NOT IN
      |      ((SELECT doc_id FROM p1) UNION ALL (SELECT doc_id FROM p2))
      |    AND NOT EXISTS (SELECT 1 FROM c2 WHERE c2.tg = t.tg)
      |  GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1),
      |c3 AS (
      |  SELECT tg FROM c2 UNION
      |  SELECT DISTINCT tg FROM tg WHERE doc_id = (SELECT doc_id FROM p3))
      |SELECT 1 AS step, doc_id, gain,
      |  (SELECT COUNT(*) FROM c1) AS covered FROM p1
      |UNION ALL
      |SELECT 2, doc_id, gain, (SELECT COUNT(*) FROM c2) FROM p2
      |UNION ALL
      |SELECT 3, doc_id, gain, (SELECT COUNT(*) FROM c3) FROM p3
      |ORDER BY step""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q141_trigram_novelty", q141TrigramNovelty _, q141Sql),
    Query("q142_char_entropy", q142CharEntropy _, q142Sql),
    Query("q152_greedy_cover", q152GreedyCover _, q152Sql))
}
