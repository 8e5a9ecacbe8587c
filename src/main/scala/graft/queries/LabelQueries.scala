package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.TextFunctions._

/** Crowd-label aggregation — the labeled-dataset construction step of a
  * training pipeline: several unreliable annotators vote on every
  * document's label, and the pipeline must aggregate votes into one label
  * per document. Annotations are synthesized DETERMINISTICALLY from the
  * fixture (5 annotators with planted error rates 0.1 … 0.5, md5-derived
  * error positions and wrong-label picks — both engines re-derive every
  * vote), so the aggregation quality is measurable against the known true
  * label (the document's `lang`).
  */
object LabelQueries {

  /** Annotator m ∈ 0..4 errs on a doc when md5(ann m:doc) % 20 < 2(m+1) —
    * planted error rates 10% … 50%. */
  private val NAnn = 5

  // ---------------------------------------------------------------- q449
  /** Per-document label-aggregation decision table: plain majority vote
    * vs reliability-weighted vote (one fixed Dawid-Skene-style reweight:
    * an annotator's weight is its integer agreement count with the
    * majority — same ranking as agreement RATE since every annotator
    * votes on every doc, but exactly integer). Each row carries the true
    * label, both aggregate labels, the majority's vote count, and the
    * two correctness flags — the shipped artifact plus its own quality
    * audit; the spec asserts the planted property that reweighting
    * strictly helps (low-error annotators dominate the weighted vote).
    *
    * Vote synthesis (identical on both engines): annotator m's vote on
    * doc d is the true lang unless md5("ann m:" ∥ d) % 20 < 2(m+1); a
    * wrong vote picks the (md5("pick m:" ∥ d) % (|langs|−1))-th of the
    * OTHER langs in lexicographic order.
    *
    * Exactness: votes, counts, and weights are integers; labels are
    * strings; both argmaxes tie-break on the lexicographically smallest
    * label; no floating point anywhere.
    *
    * Scale shape: votes are a constant 5-way explode of the doc scan; the
    * wrong-label lookup is a |langs|²-row broadcast; both argmax windows
    * partition per DOCUMENT (5 and ≤5 rows); the annotator weights are a
    * 5-row census broadcast back onto the votes; every agg is
    * map-side-combinable. Two passes over the votes by design (weights
    * need the majority) — the classic two-pass EM step. */
  /** The synthesized vote table (doc_id, lang, m, vote) — ONE spelling,
    * shared by q449/q454/q455. */
  private def votesFrame(spark: SparkSession, dir: String): DataFrame = {
    val docs = Kpis.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
    val langs = docs.select(col("lang")).distinct()
    val nOther = langs.agg(count(lit(1)).as("nl"))
      .select((col("nl") - 1).as("n_other"))
    // lookup: k-th (0-based, lexicographic) other lang for each true lang
    val wrongs = langs.select(col("lang").as("tl"))
      .join(langs.select(col("lang").as("ol")), col("ol") =!= col("tl"))
      .withColumn("k", row_number().over(
        Window.partitionBy(col("tl")).orderBy(col("ol"))) - 1)
    docs
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(0), lit(NAnn - 1))).as("m"))
      .withColumn("h_err", md5Hash60(
        concat(lit("ann "), col("m"), lit(":"), col("doc_id"))))
      .withColumn("h_pick", md5Hash60(
        concat(lit("pick "), col("m"), lit(":"), col("doc_id"))))
      .withColumn("errs", col("h_err") % 20 < (col("m") + 1) * 2)
      .crossJoin(broadcast(nOther))
      .withColumn("kp", col("h_pick") % col("n_other"))
      .join(broadcast(wrongs),
        col("tl") === col("lang") && col("k") === col("kp"))
      .select(col("doc_id"), col("lang"), col("m"),
        when(col("errs"), col("ol")).otherwise(col("lang")).as("vote"))
  }

  /** SQL twin of [[votesFrame]]: CTEs ending in `votes`
    * (doc_id, lang, m, vote). */
  private val votesSqlCte: String =
    s"""docs AS (SELECT doc_id, lang FROM documents),
      |langs AS (SELECT DISTINCT lang FROM docs),
      |no AS (SELECT COUNT(*) - 1 AS n_other FROM langs),
      |wrongs AS (
      |  SELECT t.lang AS tl, o.lang AS ol,
      |    row_number() OVER (PARTITION BY t.lang ORDER BY o.lang) - 1 AS k
      |  FROM langs t JOIN langs o ON o.lang != t.lang),
      |votes AS (
      |  SELECT d.doc_id, d.lang, m.m,
      |    CASE WHEN ${md5Hash60Sql("'ann ' || m.m || ':' || d.doc_id")}
      |        % 20 < (m.m + 1) * 2
      |      THEN w.ol ELSE d.lang END AS vote
      |  FROM docs d
      |  CROSS JOIN (SELECT unnest(range(0, $NAnn)) AS m) m
      |  CROSS JOIN no
      |  JOIN wrongs w ON w.tl = d.lang AND w.k =
      |    ${md5Hash60Sql("'pick ' || m.m || ':' || d.doc_id")} % no.n_other)""".stripMargin

  def q449LabelAggregation(spark: SparkSession, dir: String): DataFrame = {
    val docs = Kpis.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
    val votes = votesFrame(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wMaj = Window.partitionBy(col("doc_id"))
      .orderBy(col("n").desc, col("vote"))
    val majority = votes.groupBy(col("doc_id"), col("vote"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(wMaj)).filter(col("rn") === 1)
      .select(col("doc_id"), col("vote").as("majority_label"),
        col("n").as("majority_votes"))
    val weights = votes.join(majority, "doc_id")
      .groupBy(col("m"))
      .agg(sum(when(col("vote") === col("majority_label"), 1L)
        .otherwise(0L)).as("wt"))
    val wW = Window.partitionBy(col("doc_id"))
      .orderBy(col("ws").desc, col("vote"))
    val weighted = votes.join(broadcast(weights), "m")
      .groupBy(col("doc_id"), col("vote"))
      .agg(sum(col("wt")).as("ws"))
      .withColumn("rn", row_number().over(wW)).filter(col("rn") === 1)
      .select(col("doc_id"), col("vote").as("weighted_label"))
    val out = graft.plans.Eager.ckpt(docs
      .join(majority, "doc_id").join(weighted, "doc_id")
      .select(col("doc_id"), col("lang").as("true_lang"),
        col("majority_label"), col("majority_votes"),
        (col("majority_label") === col("lang")).as("majority_correct"),
        col("weighted_label"),
        (col("weighted_label") === col("lang")).as("weighted_correct"))
      .orderBy("doc_id"))
    votes.unpersist()
    out
  }

  val q449Sql: String =
    s"""WITH $votesSqlCte,
      |mc AS (
      |  SELECT doc_id, vote, COUNT(*) AS n FROM votes GROUP BY 1, 2),
      |majority AS (
      |  SELECT doc_id, vote AS majority_label, n AS majority_votes
      |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY n DESC, vote) AS rn FROM mc) WHERE rn = 1),
      |weights AS (
      |  SELECT v.m,
      |    SUM(CASE WHEN v.vote = j.majority_label THEN 1 ELSE 0 END) AS wt
      |  FROM votes v JOIN majority j USING (doc_id) GROUP BY 1),
      |wc AS (
      |  SELECT v.doc_id, v.vote, SUM(w.wt) AS ws
      |  FROM votes v JOIN weights w USING (m) GROUP BY 1, 2),
      |weighted AS (
      |  SELECT doc_id, vote AS weighted_label
      |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY ws DESC, vote) AS rn FROM wc) WHERE rn = 1)
      |SELECT d.doc_id, d.lang AS true_lang, j.majority_label,
      |  CAST(j.majority_votes AS BIGINT) AS majority_votes,
      |  j.majority_label = d.lang AS majority_correct,
      |  t.weighted_label, t.weighted_label = d.lang AS weighted_correct
      |FROM docs d JOIN majority j USING (doc_id)
      |JOIN weighted t USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q454
  /** Per-annotator confusion matrix — the Dawid-Skene sufficient
    * statistic and the audit an annotation platform actually publishes:
    * for every (annotator, true label, voted label) cell, the vote count
    * plus the annotator's row total (so cells read as exact rational
    * rates). The planted design is visible in the output: diagonal mass
    * decays with the annotator index (error rates 0.1 … 0.5) and
    * off-diagonal mass spreads over the 4 wrong labels by the
    * deterministic pick hash.
    *
    * Exactness: all-integer counts; labels are strings.
    *
    * Scale shape: one map-side-combinable agg over the vote explode
    * (≤ |annotators| × |langs|² cells) plus an annotator-total census
    * joined back — both collapsed frames. */
  def q454AnnotatorConfusion(spark: SparkSession, dir: String): DataFrame = {
    val votes = votesFrame(spark, dir)
    val cells = votes.groupBy(col("m"), col("lang").as("true_lang"),
        col("vote").as("vote_lang"))
      .agg(count(lit(1)).as("n"))
    val totals = votes.groupBy(col("m"))
      .agg(count(lit(1)).as("n_votes"))
    cells.join(broadcast(totals), "m")
      .select(col("m").as("annotator"), col("true_lang"), col("vote_lang"),
        col("n"), col("n_votes"),
        (col("true_lang") === col("vote_lang")).as("diagonal"))
      .orderBy("annotator", "true_lang", "vote_lang")
  }

  val q454Sql: String =
    s"""WITH $votesSqlCte,
      |cells AS (
      |  SELECT m, lang AS true_lang, vote AS vote_lang, COUNT(*) AS n
      |  FROM votes GROUP BY 1, 2, 3),
      |totals AS (SELECT m, COUNT(*) AS n_votes FROM votes GROUP BY 1)
      |SELECT CAST(c.m AS INTEGER) AS annotator, c.true_lang, c.vote_lang,
      |  CAST(c.n AS BIGINT) AS n, CAST(t.n_votes AS BIGINT) AS n_votes,
      |  c.true_lang = c.vote_lang AS diagonal
      |FROM cells c JOIN totals t USING (m)
      |ORDER BY annotator, true_lang, vote_lang""".stripMargin

  // ---------------------------------------------------------------- q455
  /** Fleiss' kappa for the annotator panel (Fleiss 1971, public) — the
    * chance-corrected agreement number a labeling pipeline gates on
    * before trusting aggregated labels. One output row: observed
    * agreement P_o = Σ_d Σ_j n_dj(n_dj − 1) / (N·n·(n−1)), expected
    * agreement P_e = Σ_j (c_j / (N·n))², κ = (P_o − P_e)/(1 − P_e).
    *
    * Exactness: ALL aggregation happens in integers (agree-pair mass,
    * squared category totals) — the handful of FP ops run once on exact
    * integer inputs far below 2⁵³, spelled identically on both engines →
    * bit-identical doubles with no FP-order exposure anywhere.
    *
    * Scale shape: one per-(doc, vote) count (map-side-combinable), one
    * 1-row pair-mass census, one |langs|-row category census — the two
    * 1-row frames meet by cross-broadcast (the adjudicated 1-row-totals
    * pattern). */
  def q455FleissKappa(spark: SparkSession, dir: String): DataFrame = {
    val votes = votesFrame(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perCell = votes.groupBy(col("doc_id"), col("vote"))
      .agg(count(lit(1)).as("c"))
    val agree = perCell.agg(
      sum(col("c") * (col("c") - 1)).as("agree_pairs"),
      countDistinct(col("doc_id")).as("n_docs"))
    val cats = votes.groupBy(col("vote")).agg(count(lit(1)).as("cj"))
      .agg(sum(col("cj") * col("cj")).as("sum_cat_sq"),
        sum(col("cj")).as("n_votes"))
    val out = graft.plans.Eager.ckpt(agree.crossJoin(broadcast(cats))
      .select(col("n_docs"), lit(NAnn).as("n_raters"),
        col("agree_pairs"), col("sum_cat_sq"),
        (col("agree_pairs").cast("double") /
          (col("n_docs") * NAnn * (NAnn - 1)).cast("double")).as("p_o"),
        (col("sum_cat_sq").cast("double") /
          (col("n_votes") * col("n_votes")).cast("double")).as("p_e"))
      .select(col("n_docs"), col("n_raters"), col("agree_pairs"),
        col("sum_cat_sq"), col("p_o"), col("p_e"),
        ((col("p_o") - col("p_e")) / (lit(1.0) - col("p_e")))
          .as("kappa")))
    votes.unpersist()
    out
  }

  val q455Sql: String =
    s"""WITH $votesSqlCte,
      |pc AS (
      |  SELECT doc_id, vote, COUNT(*) AS c FROM votes GROUP BY 1, 2),
      |agree AS (
      |  SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS agree_pairs,
      |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      |  FROM pc),
      |cj AS (SELECT vote, COUNT(*) AS n FROM votes GROUP BY 1),
      |cats AS (
      |  SELECT CAST(SUM(n * n) AS BIGINT) AS sum_cat_sq,
      |    CAST(SUM(n) AS BIGINT) AS n_votes
      |  FROM cj),
      |j AS (SELECT * FROM agree CROSS JOIN cats),
      |pp AS (
      |  SELECT n_docs, CAST($NAnn AS INTEGER) AS n_raters, agree_pairs,
      |    sum_cat_sq,
      |    CAST(agree_pairs AS DOUBLE)
      |      / CAST(n_docs * $NAnn * ${NAnn - 1} AS DOUBLE) AS p_o,
      |    CAST(sum_cat_sq AS DOUBLE)
      |      / CAST(n_votes * n_votes AS DOUBLE) AS p_e
      |  FROM j)
      |SELECT n_docs, n_raters, agree_pairs, sum_cat_sq, p_o, p_e,
      |  (p_o - p_e) / (1.0 - p_e) AS kappa
      |FROM pp""".stripMargin

  // ---------------------------------------------------------------- q456
  /** One honest Dawid-Skene E-step (Dawid & Skene 1979, public) — the
    * upgrade q449's scalar weights cannot express: an annotator may be
    * reliable on SOME labels and systematically confused on others, so
    * the per-doc posterior uses each annotator's full confusion matrix.
    * Truth is never consulted: confusion cells are counted against the
    * MAJORITY initialization (the classic bootstrap), Laplace-smoothed
    * (+1 / +|langs|) so unseen cells stay positive, and each document's
    * label is the argmax over candidate labels t of the likelihood
    * Π_m P(vote_m | t, m). Output per doc: both aggregate labels and
    * their correctness flags — the spec pins the planted dominance
    * (confusion-aware ≥ majority accuracy).
    *
    * Exactness: the five likelihood factors are exact-double ratios of
    * integers (smoothed cell / smoothed row total), multiplied in a
    * FIXED left-associated annotator order (m = 0…4, pivoted to
    * columns) — bit-identical doubles on both engines; the argmax
    * tie-breaks on the lexicographically smallest label.
    *
    * Scale shape: votes explode ×|langs| candidate labels (a constant
    * 25 rows per doc), the confusion table is a
    * ≤ |annotators|·|langs|² census broadcast, the pivot is a per-doc
    * 5-to-1 agg, and the argmax window partitions per document. */
  def q456DawidSkene(spark: SparkSession, dir: String): DataFrame = {
    val docs = Kpis.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
    val nLangs = docs.select(col("lang")).distinct()
      .agg(count(lit(1)).as("nl"))
    val votes = votesFrame(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wMaj = Window.partitionBy(col("doc_id"))
      .orderBy(col("n").desc, col("vote"))
    val majority = votes.groupBy(col("doc_id"), col("vote"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(wMaj)).filter(col("rn") === 1)
      .select(col("doc_id"), col("vote").as("mt"),
        col("n").as("majority_votes"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cells = votes.join(majority.select(col("doc_id"), col("mt")),
        "doc_id")
      .groupBy(col("m"), col("mt"), col("vote"))
      .agg(count(lit(1)).as("cn"))
    val rowTot = cells.groupBy(col("m"), col("mt"))
      .agg(sum(col("cn")).as("rt"))
    val cellsR = cells.select(col("m").as("cm"), col("mt").as("cmt"),
      col("vote").as("cv"), col("cn"))
    val rowTotR = rowTot.select(col("m").as("rm"), col("mt").as("rmt"),
      col("rt"))
    // candidate-label grid: every (doc, vote_m) against every label t
    val tGrid = votes.select(col("doc_id"), col("m"), col("vote"))
      .crossJoin(broadcast(docs.select(col("lang").as("t")).distinct()))
    val rated = tGrid
      .join(broadcast(cellsR), col("cm") === col("m") &&
        col("cmt") === col("t") && col("cv") === col("vote"), "left")
      .join(broadcast(rowTotR), col("rm") === col("m") &&
        col("rmt") === col("t"), "left")
      .crossJoin(broadcast(nLangs))
      .select(col("doc_id"), col("m"), col("t"),
        ((coalesce(col("cn"), lit(0L)) + 1L).cast("double") /
          (coalesce(col("rt"), lit(0L)) + col("nl")).cast("double"))
          .as("r"))
    val pivoted = rated.groupBy(col("doc_id"), col("t"))
      .agg(max(when(col("m") === 0, col("r"))).as("r0"),
        max(when(col("m") === 1, col("r"))).as("r1"),
        max(when(col("m") === 2, col("r"))).as("r2"),
        max(when(col("m") === 3, col("r"))).as("r3"),
        max(when(col("m") === 4, col("r"))).as("r4"))
      .withColumn("score", col("r0") * col("r1") * col("r2") *
        col("r3") * col("r4"))
    val wT = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("t"))
    val ds = pivoted.withColumn("rn", row_number().over(wT))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("t").as("ds_label"), col("score"))
    val out = graft.plans.Eager.ckpt(docs
      .join(majority, "doc_id").join(ds, "doc_id")
      .select(col("doc_id"), col("lang").as("true_lang"),
        col("mt").as("majority_label"),
        (col("mt") === col("lang")).as("majority_correct"),
        col("ds_label"), col("score").as("ds_score"),
        (col("ds_label") === col("lang")).as("ds_correct"))
      .orderBy("doc_id"))
    votes.unpersist(); majority.unpersist()
    out
  }

  val q456Sql: String =
    s"""WITH $votesSqlCte,
      |nl AS (SELECT COUNT(*) AS nl FROM langs),
      |mc AS (
      |  SELECT doc_id, vote, COUNT(*) AS n FROM votes GROUP BY 1, 2),
      |majority AS (
      |  SELECT doc_id, vote AS mt, n AS majority_votes
      |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY n DESC, vote) AS rn FROM mc) WHERE rn = 1),
      |cells AS (
      |  SELECT v.m, j.mt, v.vote, COUNT(*) AS cn
      |  FROM votes v JOIN majority j USING (doc_id) GROUP BY 1, 2, 3),
      |rt AS (SELECT m, mt, SUM(cn) AS rt FROM cells GROUP BY 1, 2),
      |tg AS (
      |  SELECT v.doc_id, v.m, v.vote, t.lang AS t
      |  FROM votes v CROSS JOIN langs t),
      |rated AS (
      |  SELECT g.doc_id, g.m, g.t,
      |    CAST(COALESCE(c.cn, 0) + 1 AS DOUBLE)
      |      / CAST(COALESCE(r.rt, 0) + nl.nl AS DOUBLE) AS rr
      |  FROM tg g
      |  LEFT JOIN cells c ON c.m = g.m AND c.mt = g.t AND c.vote = g.vote
      |  LEFT JOIN rt r ON r.m = g.m AND r.mt = g.t
      |  CROSS JOIN nl),
      |pv AS (
      |  SELECT doc_id, t,
      |    MAX(CASE WHEN m = 0 THEN rr END) AS r0,
      |    MAX(CASE WHEN m = 1 THEN rr END) AS r1,
      |    MAX(CASE WHEN m = 2 THEN rr END) AS r2,
      |    MAX(CASE WHEN m = 3 THEN rr END) AS r3,
      |    MAX(CASE WHEN m = 4 THEN rr END) AS r4
      |  FROM rated GROUP BY 1, 2),
      |sc AS (SELECT doc_id, t, r0 * r1 * r2 * r3 * r4 AS score FROM pv),
      |ds AS (
      |  SELECT doc_id, t AS ds_label, score
      |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY score DESC, t) AS rn FROM sc) WHERE rn = 1)
      |SELECT d.doc_id, d.lang AS true_lang, j.mt AS majority_label,
      |  j.mt = d.lang AS majority_correct,
      |  s.ds_label, s.score AS ds_score, s.ds_label = d.lang AS ds_correct
      |FROM docs d JOIN majority j USING (doc_id) JOIN ds s USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // -------------------------------------------------------------- maps
  def queries: Seq[Query] = Seq(
    Query("q449_label_aggregation", q449LabelAggregation _, q449Sql),
    Query("q454_annotator_confusion", q454AnnotatorConfusion _, q454Sql),
    Query("q455_fleiss_kappa", q455FleissKappa _, q455Sql),
    Query("q456_dawid_skene", q456DawidSkene _, q456Sql))
}
