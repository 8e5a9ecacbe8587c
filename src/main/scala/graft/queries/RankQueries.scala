package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.ExactMath.r6
import graft.functions.VectorFunctions.{dotD, dotSqlUnrolled, norm2}

/** BM25 ranked retrieval over the `documents` table — the lexical-scoring
  * complement of q44's corpus TF-IDF and the standard first-stage
  * retriever a training-data pipeline runs for decontamination probes and
  * topic targeting. Extension scope (no reference twin; the reference's
  * text handling stops at pandas cleaning).
  *
  * Shape at scale: one explode→groupBy pass builds per-(doc, query-term)
  * tf for the O(|q|) query terms only (the IN filter prunes the exploded
  * stream BEFORE the aggregate — the shuffle carries query-term rows, not
  * the corpus vocabulary); df and the corpus length stats are
  * broadcast-sized; the final top-20 lowers to TakeOrderedAndProject.
  *
  * Cross-engine parity: tf/df/dl/N are exact integers; avgdl is one
  * division; each per-(doc,term) score is the same IEEE chain in both
  * engines, rounded to 9 dp (the per-element ln grid), and the per-doc
  * sum of those rounded scores runs as DECIMAL(28,9) so regrouping
  * cannot jitter the total.
  */
object RankQueries {

  /** Fixed query — terms known to exist in the synthetic vocabulary. */
  private val QueryTerms = Seq("spark", "query", "join")
  private val K1 = 1.2

  // ---------------------------------------------------------------- q78
  /** Full BM25-scored frame (no rank cut) — shared by q78's top-20 and
    * q151's rank fusion. */
  private[graft] def bm25Scored(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
    // per-document length (every token, not just query terms)
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = toks.filter(col("term").isin(QueryTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfTbl = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) +
      ((col("n_docs").cast("double") - col("df")) + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    // BM25 with k1=1.2, b=0.75: 1-b and b pre-folded to literals so both
    // engines run the identical op chain
    val den = col("tf").cast("double") + lit(K1) *
      (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl")))
    // 2.2 as a literal, NOT K1 + 1.0: the Scala double sum 1.2 + 1.0 is
    // one ulp BELOW the parsed literal 2.2 that DuckDB's decimal→double
    // promotion produces
    val num = col("tf").cast("double") * lit(2.2)
    tf.join(broadcast(dfTbl), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", avgdl)
      .withColumn("score",
        round(idf * (num / den), 9).cast("decimal(28,9)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("score")).cast("double").as("bm25"))
  }

  def q78Bm25(spark: SparkSession, dir: String): DataFrame =
    bm25Scored(spark, dir)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)

  /** The CTE chain ending in `bm(doc_id, n_terms, bm25)` — shared by the
    * q78 and q151 oracles. */
  private val bm25Cte: String =
    """tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tok1 AS (SELECT * FROM tok WHERE length(term) > 0),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok1 GROUP BY 1),
      |stats AS (
      |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl
      |  FROM dl),
      |tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM tok1
      |  WHERE term IN ('spark', 'query', 'join') GROUP BY 1, 2),
      |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT tf.doc_id,
      |    CAST(ROUND(
      |      LN(1.0 + ((CAST(n_docs AS DOUBLE) - df) + 0.5)
      |                / (CAST(df AS DOUBLE) + 0.5))
      |      * ((CAST(tf AS DOUBLE) * 2.2)
      |         / (CAST(tf AS DOUBLE)
      |            + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
      |                / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))),
      |      9) AS DECIMAL(28,9)) AS score
      |  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id)
      |  CROSS JOIN stats),
      |bm AS (
      |  SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(score) AS DOUBLE) AS bm25
      |  FROM scored GROUP BY doc_id)""".stripMargin

  val q78Sql: String =
    s"""WITH $bm25Cte
      |SELECT doc_id, n_terms, bm25 FROM bm
      |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q151
  /** Hybrid retrieval via reciprocal-rank fusion: RRF(d) =
    * Σ_lists 1/(60 + rank_list(d)) over the lexical BM25 ranking (q78's
    * scored frame) and a semantic cosine ranking against document 0's
    * embedding — the standard fusion every hybrid search stack runs,
    * robust to the two scores living on incomparable scales (that is
    * the whole point of fusing RANKS, not scores). Docs absent from a
    * list contribute nothing for it (rank 0 in the output).
    *
    * Exactness: ranks are integers from totally-ordered windows
    * (score desc, doc_id); each RRF term is the single double division
    * 1/(60+r); the two-term sum is one further IEEE add — identical in
    * both engines.
    *
    * Scale shape: both rankings are global top-style windows over
    * SCORED tables (matched docs for BM25, the corpus for cosine) —
    * single-partition, rank-only; at retrieval scale both lists arrive
    * already cut to top-k per shard and fusion joins k-sized lists.
    * The query embedding broadcasts; the corpus streams. */
  def q151RrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val lex = bm25Scored(spark, dir)
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))).as("r_lex"))
    val e = Kpis.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        norm2(col("embedding")).as("n2"))
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"), col("n2").as("qn2"))
    val sem = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("cos_sim",
        dotD(col("qe"), col("embedding")) /
          (sqrt(col("qn2")) * sqrt(col("n2"))))
      .select(col("vec_id").as("doc_id"), col("cos_sim"))
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("cos_sim").desc, col("doc_id"))).as("r_sem"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("r_lex"), lit(0)).as("r_lex"),
        coalesce(col("r_sem"), lit(0)).as("r_sem"))
      .withColumn("rrf",
        when(col("r_lex") > 0,
          lit(1.0) / (lit(60.0) + col("r_lex").cast("double")))
          .otherwise(lit(0.0)) +
          when(col("r_sem") > 0,
            lit(1.0) / (lit(60.0) + col("r_sem").cast("double")))
            .otherwise(lit(0.0)))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(20)
  }

  val q151Sql: String = {
    val dim = 64
    s"""WITH $bm25Cte,
      |e AS (
      |  SELECT vec_id, embedding,
      |    ${dotSqlUnrolled("embedding", "embedding", dim)} AS n2
      |  FROM embeddings),
      |sem AS (
      |  SELECT c.vec_id AS doc_id,
      |    (${dotSqlUnrolled("q.embedding", "c.embedding", dim)})
      |      / (sqrt(q.n2) * sqrt(c.n2)) AS cos_sim
      |  FROM e q, e c
      |  WHERE q.vec_id = 0 AND c.vec_id != 0),
      |lr AS (
      |  SELECT doc_id, CAST(row_number() OVER (
      |    ORDER BY bm25 DESC, doc_id) AS INTEGER) AS r_lex FROM bm),
      |sr AS (
      |  SELECT doc_id, CAST(row_number() OVER (
      |    ORDER BY cos_sim DESC, doc_id) AS INTEGER) AS r_sem FROM sem),
      |f AS (
      |  SELECT COALESCE(lr.doc_id, sr.doc_id) AS doc_id,
      |    COALESCE(r_lex, 0) AS r_lex, COALESCE(r_sem, 0) AS r_sem
      |  FROM lr FULL OUTER JOIN sr ON lr.doc_id = sr.doc_id)
      |SELECT doc_id, r_lex, r_sem,
      |  (CASE WHEN r_lex > 0
      |        THEN 1.0 / (60.0 + CAST(r_lex AS DOUBLE)) ELSE 0.0 END)
      |    + (CASE WHEN r_sem > 0
      |        THEN 1.0 / (60.0 + CAST(r_sem AS DOUBLE)) ELSE 0.0 END)
      |    AS rrf
      |FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin
  }

  // --------------------------------------------------------------- q237
  /** BM25 parameter-stability audit: the same query scored under three
    * canonical (k1, b) settings — Robertson's (1.2, 0.75), the
    * Lucene-ish (0.9, 0.4), and a high-saturation (2.0, 0.75) — and,
    * per setting pair, how much of the top-10 survives the change
    * (set overlap + Jaccard). A retrieval stack runs exactly this
    * before trusting a tuned parameter: rankings that reshuffle under
    * defensible settings are telling you the scores, not the
    * parameters, are fragile. Extends q78 (one fixed setting).
    *
    * Exactness: per-term scores keep q78's discipline — every
    * parameter is a pre-folded double LITERAL (k1+1 is written 2.2 /
    * 1.9 / 3.0, never summed at runtime: the Scala 1.2+1.0 is one ulp
    * off DuckDB's parsed 2.2), 9-dp decimal rounding before the
    * per-doc sum; top-10 cuts are deterministic (score desc, doc_id).
    *
    * Scale shape: ONE tokenize/tf/df/dl pass shared by all settings
    * (the settings table cross-joins as 3 broadcast rows); per-setting
    * ranking is a 3-partition window over query-term-matched docs
    * only; the pair audit joins 10-row lists. */
  def q237Bm25Stability(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val tf = toks.filter(col("term").isin(QueryTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfTbl = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val settings = spark.range(1).select(explode(array(
      struct(lit("a_k12_b075").as("s"), lit(1.2).as("k1"),
        lit(0.25).as("b1m"), lit(0.75).as("b"), lit(2.2).as("k1p1")),
      struct(lit("b_k09_b040").as("s"), lit(0.9).as("k1"),
        lit(0.6).as("b1m"), lit(0.4).as("b"), lit(1.9).as("k1p1")),
      struct(lit("c_k20_b075").as("s"), lit(2.0).as("k1"),
        lit(0.25).as("b1m"), lit(0.75).as("b"), lit(3.0).as("k1p1"))))
      .as("st")).select(col("st.*"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) +
      ((col("n_docs").cast("double") - col("df")) + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val scored = tf.join(broadcast(dfTbl), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(settings))
      .withColumn("avgdl", avgdl)
      .withColumn("score", round(idf *
        (col("tf").cast("double") * col("k1p1")) /
        (col("tf").cast("double") + col("k1") *
          (col("b1m") + col("b") *
            (col("dl").cast("double") / col("avgdl")))), 9)
        .cast("decimal(28,9)"))
      .groupBy(col("s"), col("doc_id"))
      .agg(sum(col("score")).as("bm25"))
    val w = Window.partitionBy(col("s"))
      .orderBy(col("bm25").desc, col("doc_id"))
    val top = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("s"), col("doc_id"))
    val t2 = top.select(col("s").as("s2"), col("doc_id").as("d2"))
    top.join(t2, col("doc_id") === col("d2") && col("s") < col("s2"))
      .groupBy(col("s").as("s1"), col("s2"))
      .agg(count(lit(1)).as("n_common"))
      .select(col("s1"), col("s2"), col("n_common"),
        (round(col("n_common").cast("double") /
          (lit(20) - col("n_common")).cast("double"), 6) + lit(0.0))
          .as("jaccard"))
      .orderBy("s1", "s2")
  }

  val q237Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tok1 AS (SELECT * FROM tok WHERE length(term) > 0),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok1 GROUP BY 1),
      |stats AS (
      |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl
      |  FROM dl),
      |tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM tok1
      |  WHERE term IN ('spark', 'query', 'join') GROUP BY 1, 2),
      |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |settings AS (
      |  SELECT 'a_k12_b075' AS s, 1.2 AS k1, 0.25 AS b1m, 0.75 AS b,
      |    2.2 AS k1p1
      |  UNION ALL SELECT 'b_k09_b040', 0.9, 0.6, 0.4, 1.9
      |  UNION ALL SELECT 'c_k20_b075', 2.0, 0.25, 0.75, 3.0),
      |scored AS (
      |  SELECT s, tf.doc_id,
      |    CAST(ROUND(
      |      LN(1.0 + ((CAST(n_docs AS DOUBLE) - df) + 0.5)
      |                / (CAST(df AS DOUBLE) + 0.5))
      |      * (CAST(tf AS DOUBLE) * k1p1)
      |      / (CAST(tf AS DOUBLE) + k1 * (b1m + b * (CAST(dl AS DOUBLE)
      |           / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))),
      |      9) AS DECIMAL(28,9)) AS score
      |  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id)
      |  CROSS JOIN stats CROSS JOIN settings),
      |bm AS (
      |  SELECT s, doc_id, SUM(score) AS bm25 FROM scored GROUP BY 1, 2),
      |top AS (
      |  SELECT s, doc_id FROM (
      |    SELECT s, doc_id, row_number() OVER (
      |      PARTITION BY s ORDER BY bm25 DESC, doc_id) AS rk
      |    FROM bm) WHERE rk <= 10)
      |SELECT a.s AS s1, b.s AS s2, COUNT(*) AS n_common,
      |  round(CAST(COUNT(*) AS DOUBLE) /
      |    CAST(20 - COUNT(*) AS DOUBLE), 6) + 0.0 AS jaccard
      |FROM top a JOIN top b ON a.doc_id = b.doc_id AND a.s < b.s
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q296
  /** nDCG@10 of the BM25 ranking — the canonical graded ranking-quality
    * metric, closing the retrieval-eval loop the family opened (q78
    * scores, q151 fuses, q237 checks parameter stability; none says how
    * GOOD the ranking is). Relevance grade = raw query-term frequency in
    * the document (an integer ground truth independent of the scoring
    * function's length/idf shaping); DCG@10 discounts each ranked grade
    * by 1/log₂(rank+1), IDCG@10 is the same sum over the 10 best grades,
    * and nDCG = DCG/IDCG. Emits the 10 actual ranked positions with
    * their gains plus the three summary columns.
    *
    * Exactness: grades are integers; the discount grid is a 10-entry
    * 9-dp DECIMAL LITERAL table (no cross-engine log2 ever runs);
    * gain = grade·w and both DCG sums are exact decimal arithmetic;
    * nDCG is one double division. Ranks come from totally-ordered
    * windows (bm25 desc / grade desc, doc_id tiebreak) over bit-equal
    * inputs (q78's 9-dp-snapped scores).
    *
    * Scale shape: the two rank windows are global but run over the
    * MATCHED-doc frame (docs containing a query term — WindowGuardSpec
    * pins both sites); at retrieval scale the standard top-k-per-shard
    * cut applies before any global rank, as in q151. */
  def q296NdcgAt10(spark: SparkSession, dir: String): DataFrame = {
    val weights = Seq(
      "1.000000000", "0.630929754", "0.500000000", "0.430676558",
      "0.386852807", "0.356207187", "0.333333333", "0.315464877",
      "0.301029996", "0.289064826")
    val wArr = array(weights.map(w => lit(w).cast("decimal(12,9)")): _*)
    val rel = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .filter(col("term").isin(QueryTerms: _*))
      .groupBy("doc_id").agg(count(lit(1)).as("rel"))
    val ranked = bm25Scored(spark, dir).join(rel, "doc_id")
      .withColumn("rank",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      .filter(col("rank") <= 10)
      .withColumn("gain",
        (col("rel").cast("decimal(10,0)") *
          element_at(wArr, col("rank"))).cast("decimal(22,9)"))
    val ideal = rel
      .withColumn("irank",
        row_number().over(Window.orderBy(col("rel").desc, col("doc_id"))))
      .filter(col("irank") <= 10)
      .withColumn("gain",
        (col("rel").cast("decimal(10,0)") *
          element_at(wArr, col("irank"))).cast("decimal(22,9)"))
    val dcg = ranked.agg(sum(col("gain")).cast("double").as("dcg"))
    val idcg = ideal.agg(sum(col("gain")).cast("double").as("idcg"))
    ranked
      .crossJoin(broadcast(dcg)).crossJoin(broadcast(idcg))
      .select(col("rank").cast("long").as("rank"), col("doc_id"),
        col("rel").as("rel_grade"), col("bm25"),
        col("gain").cast("double").as("gain"),
        col("dcg"), col("idcg"), (col("dcg") / col("idcg")).as("ndcg"))
      .orderBy("rank")
  }

  val q296Sql: String =
    s"""WITH $bm25Cte,
      |rel AS (
      |  SELECT doc_id, COUNT(*) AS rel FROM tok1
      |  WHERE term IN ('spark', 'query', 'join') GROUP BY 1),
      |wt(r, w) AS (VALUES
      |  (1, CAST(1.000000000 AS DECIMAL(12,9))),
      |  (2, CAST(0.630929754 AS DECIMAL(12,9))),
      |  (3, CAST(0.500000000 AS DECIMAL(12,9))),
      |  (4, CAST(0.430676558 AS DECIMAL(12,9))),
      |  (5, CAST(0.386852807 AS DECIMAL(12,9))),
      |  (6, CAST(0.356207187 AS DECIMAL(12,9))),
      |  (7, CAST(0.333333333 AS DECIMAL(12,9))),
      |  (8, CAST(0.315464877 AS DECIMAL(12,9))),
      |  (9, CAST(0.301029996 AS DECIMAL(12,9))),
      |  (10, CAST(0.289064826 AS DECIMAL(12,9)))),
      |ranked AS (
      |  SELECT bm.doc_id, bm.bm25, rel.rel,
      |    ROW_NUMBER() OVER (ORDER BY bm.bm25 DESC, bm.doc_id) AS rank
      |  FROM bm JOIN rel USING (doc_id)),
      |g AS (
      |  SELECT ranked.*,
      |    CAST(CAST(rel AS DECIMAL(10,0)) * w AS DECIMAL(22,9)) AS gain
      |  FROM ranked JOIN wt ON rank = r WHERE rank <= 10),
      |ideal AS (
      |  SELECT rel,
      |    ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS irank
      |  FROM rel),
      |ig AS (
      |  SELECT CAST(CAST(rel AS DECIMAL(10,0)) * w AS DECIMAL(22,9))
      |    AS gain
      |  FROM ideal JOIN wt ON irank = r WHERE irank <= 10),
      |dcg AS (SELECT CAST(SUM(gain) AS DOUBLE) AS dcg FROM g),
      |idcg AS (SELECT CAST(SUM(gain) AS DOUBLE) AS idcg FROM ig)
      |SELECT CAST(rank AS BIGINT) AS rank, doc_id,
      |  CAST(rel AS BIGINT) AS rel_grade, bm25,
      |  CAST(gain AS DOUBLE) AS gain, dcg, idcg, dcg / idcg AS ndcg
      |FROM g, dcg, idcg ORDER BY rank""".stripMargin

  // --------------------------------------------------------------- q321
  /** Rank-biased overlap (RBO@10, p = 0.9) between the two rankings
    * q151 FUSES — lexical BM25 and semantic cosine-vs-doc-0 — answering
    * the question fusion design starts from: how much do the lists
    * actually agree, weighted toward the top the way a user reads them
    * (Webber et al., TOIS 2010)? The truncated RBO is
    * Σ_{d=1..10} (1−p)·p^(d−1)·|A_d ∩ B_d|/d; because a matched doc is
    * inside BOTH depth-d prefixes exactly when max(rank_A, rank_B) ≤ d,
    * the per-depth intersection is a count over the ≤10-row matched
    * table — no per-depth set machinery.
    *
    * Exactness: the (1−p)p^(d−1)/d weights are a 10-entry 9-dp DECIMAL
    * literal grid (no cross-engine pow/division); per-depth contribution
    * is weight × integer count in exact decimal space; the cumulative
    * RBO and its perfect-agreement ceiling (Σ w_d·d) are exact decimal
    * running sums; the normalized ratio is one closing double division.
    * Ranks come from the same totally-ordered windows q151/q296 pin.
    *
    * Scale shape: the two rank windows run over the matched-doc frame
    * and the embeddings entity table (both WindowGuardSpec-pinned, as
    * in q151); everything downstream is a ≤10-row census. */
  def q321RboOverlap(spark: SparkSession, dir: String): DataFrame = {
    val w9 = Seq(
      "0.100000000", "0.045000000", "0.027000000", "0.018225000",
      "0.013122000", "0.009841500", "0.007592014", "0.005978711",
      "0.004782969", "0.003874205")
    val wArr = array(w9.map(w => lit(w).cast("decimal(12,9)")): _*)
    val lex = bm25Scored(spark, dir)
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))).as("r_lex"))
      .filter(col("r_lex") <= 10)
    val e = Kpis.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        norm2(col("embedding")).as("n2"))
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"), col("n2").as("qn2"))
    val sem = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("cos_sim",
        dotD(col("qe"), col("embedding")) /
          (sqrt(col("qn2")) * sqrt(col("n2"))))
      .select(col("vec_id").as("doc_id"), col("cos_sim"))
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("cos_sim").desc, col("doc_id"))).as("r_sem"))
      .filter(col("r_sem") <= 10)
    val matched = lex.join(sem, "doc_id")
      .select(greatest(col("r_lex"), col("r_sem")).as("m"))
    val depths = spark.range(1, 11)
      .select(col("id").cast("int").as("depth"))
    val counts = depths
      .join(broadcast(matched), col("m") <= col("depth"), "left")
      .groupBy(col("depth"))
      .agg(count(col("m")).as("n_common"))
      .withColumn("w", element_at(wArr, col("depth")))
      .withColumn("contrib",
        (col("w") * col("n_common").cast("decimal(10,0)"))
          .cast("decimal(22,9)"))
      .withColumn("ceiling_d",
        (col("w") * col("depth").cast("decimal(10,0)"))
          .cast("decimal(22,9)"))
    // running sums over the 10-row depth census (WindowGuardSpec)
    val cw = Window.orderBy(col("depth"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("rbo_cum", sum(col("contrib")).over(cw))
      .withColumn("rbo_max", sum(col("ceiling_d")).over(cw))
      .select(col("depth"), col("n_common"),
        col("w").cast("double").as("w"),
        col("contrib").cast("double").as("contrib"),
        col("rbo_cum").cast("double").as("rbo_cum"),
        (col("rbo_cum").cast("double") / col("rbo_max").cast("double"))
          .as("rbo_norm"))
      .orderBy("depth")
  }

  val q321Sql: String = {
    val dim = 64
    s"""WITH $bm25Cte,
      |wt(r, w) AS (VALUES
      |  (1, CAST(0.100000000 AS DECIMAL(12,9))),
      |  (2, CAST(0.045000000 AS DECIMAL(12,9))),
      |  (3, CAST(0.027000000 AS DECIMAL(12,9))),
      |  (4, CAST(0.018225000 AS DECIMAL(12,9))),
      |  (5, CAST(0.013122000 AS DECIMAL(12,9))),
      |  (6, CAST(0.009841500 AS DECIMAL(12,9))),
      |  (7, CAST(0.007592014 AS DECIMAL(12,9))),
      |  (8, CAST(0.005978711 AS DECIMAL(12,9))),
      |  (9, CAST(0.004782969 AS DECIMAL(12,9))),
      |  (10, CAST(0.003874205 AS DECIMAL(12,9)))),
      |lex AS (
      |  SELECT doc_id, CAST(ROW_NUMBER() OVER (
      |    ORDER BY bm25 DESC, doc_id) AS INTEGER) AS r_lex FROM bm
      |  QUALIFY r_lex <= 10),
      |e AS (
      |  SELECT vec_id, embedding,
      |    ${dotSqlUnrolled("embedding", "embedding", dim)} AS n2
      |  FROM embeddings),
      |sem0 AS (
      |  SELECT c.vec_id AS doc_id,
      |    (${dotSqlUnrolled("q.embedding", "c.embedding", dim)})
      |      / (sqrt(q.n2) * sqrt(c.n2)) AS cos_sim
      |  FROM e q, e c
      |  WHERE q.vec_id = 0 AND c.vec_id != 0),
      |sem AS (
      |  SELECT doc_id, CAST(ROW_NUMBER() OVER (
      |    ORDER BY cos_sim DESC, doc_id) AS INTEGER) AS r_sem FROM sem0
      |  QUALIFY r_sem <= 10),
      |matched AS (
      |  SELECT GREATEST(r_lex, r_sem) AS m
      |  FROM lex JOIN sem USING (doc_id)),
      |counts AS (
      |  SELECT r AS depth, w, COUNT(m) AS n_common
      |  FROM wt LEFT JOIN matched ON m <= r
      |  GROUP BY 1, 2),
      |c2 AS (
      |  SELECT depth, n_common, w,
      |    CAST(w * CAST(n_common AS DECIMAL(10,0)) AS DECIMAL(22,9))
      |      AS contrib,
      |    CAST(w * CAST(depth AS DECIMAL(10,0)) AS DECIMAL(22,9))
      |      AS ceiling_d
      |  FROM counts)
      |SELECT depth, n_common, CAST(w AS DOUBLE) AS w,
      |  CAST(contrib AS DOUBLE) AS contrib,
      |  CAST(SUM(contrib) OVER (ORDER BY depth
      |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS rbo_cum,
      |  CAST(SUM(contrib) OVER (ORDER BY depth
      |      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
      |    / CAST(SUM(ceiling_d) OVER (ORDER BY depth
      |      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS rbo_norm
      |FROM c2 ORDER BY depth""".stripMargin
  }

  // --------------------------------------------------------------- q342
  /** Average precision @10 of the BM25 ranking — the BINARY-relevance
    * summary metric beside q296's graded nDCG: AP rewards putting the
    * relevant docs early, and (averaged over queries) is the MAP every
    * retrieval eval reports. Relevance binarizes q296's ground truth
    * (≥2 raw query-term occurrences — a cut the BM25 length/idf shaping
    * cannot see); AP@10 = Σ_{k≤10, rel_k=1} P@k / min(R, 10) with
    * P@k = hits@k / k. Emits the 10 ranked positions (hit flag, running
    * hit count, P@k) plus the corpus relevant-count and the AP summary.
    *
    * Exactness: hits@k and k are integers; each P@k is ONE double
    * division of identical operands snapped to 9 dp decimal (the q78
    * per-element discipline); the AP numerator is an exact decimal sum
    * of ≤10 such terms; AP itself is one closing double division.
    *
    * Scale shape: the two rank windows run over the matched-doc frame
    * (docs containing a query term — WindowGuardSpec-pinned, exactly
    * q296's sites); at retrieval scale the top-k-per-shard cut applies
    * before any global rank, as in q151. The relevant-count and AP
    * aggregates are 1-row broadcasts. */
  def q342AveragePrecision(spark: SparkSession, dir: String): DataFrame = {
    val rel = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .filter(col("term").isin(QueryTerms: _*))
      .groupBy("doc_id").agg(count(lit(1)).as("occ"))
      .withColumn("relevant", (col("occ") >= 2L).cast("long"))
    val nRel = rel.agg(sum(col("relevant")).as("n_relevant"))
    val ranked = bm25Scored(spark, dir).join(rel, "doc_id")
      .withColumn("rank",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      .filter(col("rank") <= 10)
      .withColumn("hits_at_k",
        sum(col("relevant")).over(Window.orderBy(col("rank"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prec_at_k",
        round(col("hits_at_k").cast("double") / col("rank").cast("double"),
          9).cast("decimal(12,9)"))
    val apNum = ranked.agg(
      sum(when(col("relevant") === 1L, col("prec_at_k"))
        .otherwise(lit("0").cast("decimal(12,9)"))).as("sum_prec"))
    ranked.crossJoin(broadcast(nRel)).crossJoin(broadcast(apNum))
      .select(col("rank").cast("long").as("rank"), col("doc_id"),
        col("bm25"), col("relevant"), col("hits_at_k"),
        col("prec_at_k").cast("double").as("prec_at_k"),
        col("n_relevant"),
        // zero-relevant guard (ADVICE r13): with no relevant docs the
        // denominator min(R,10) is 0 and Spark's 0/0 (NaN) would diverge
        // from whatever DuckDB emits — define AP = 0.0 in BOTH engines
        when(col("n_relevant") === 0L, lit(0.0))
          .otherwise(col("sum_prec").cast("double") /
            least(col("n_relevant"), lit(10L)).cast("double"))
          .as("ap_at_10"))
      .orderBy("rank")
  }

  val q342Sql: String =
    s"""WITH $bm25Cte,
      |rel AS (
      |  SELECT doc_id, COUNT(*) AS occ,
      |    CAST(COUNT(*) >= 2 AS BIGINT) AS relevant
      |  FROM tok1 WHERE term IN ('spark', 'query', 'join') GROUP BY doc_id),
      |nrel AS (SELECT CAST(SUM(relevant) AS BIGINT) AS n_relevant FROM rel),
      |ranked0 AS (
      |  SELECT bm.doc_id, bm.bm25, rel.relevant,
      |    ROW_NUMBER() OVER (ORDER BY bm.bm25 DESC, bm.doc_id) AS rank
      |  FROM bm JOIN rel USING (doc_id)),
      |ranked AS (
      |  SELECT *,
      |    CAST(SUM(relevant) OVER (ORDER BY rank
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hits_at_k
      |  FROM ranked0 WHERE rank <= 10),
      |p AS (
      |  SELECT *,
      |    CAST(ROUND(CAST(hits_at_k AS DOUBLE) / CAST(rank AS DOUBLE), 9)
      |      AS DECIMAL(12,9)) AS prec_at_k
      |  FROM ranked),
      |ap AS (
      |  SELECT CAST(SUM(CASE WHEN relevant = 1 THEN prec_at_k
      |    ELSE CAST(0 AS DECIMAL(12,9)) END) AS DECIMAL(22,9)) AS sum_prec
      |  FROM p)
      |SELECT CAST(rank AS BIGINT) AS rank, doc_id, bm25, relevant,
      |  hits_at_k, CAST(prec_at_k AS DOUBLE) AS prec_at_k, n_relevant,
      |  CASE WHEN n_relevant = 0 THEN 0.0
      |    ELSE CAST(sum_prec AS DOUBLE)
      |      / CAST(LEAST(n_relevant, 10) AS DOUBLE) END AS ap_at_10
      |FROM p, nrel, ap ORDER BY rank""".stripMargin

  // --------------------------------------------------------------- q425
  /** Federated-IDF ranking drift — the RANKING member of the federation
    * family (q414 certifies federated COUNTS; this certifies federated
    * SEARCH): in a sharded search tier each shard scores its own
    * documents with its LOCAL document frequencies and corpus stats,
    * and the coordinator merges by score — so the merged ranking
    * drifts from what a global-IDF scorer would return. For S ∈
    * {2, 4, 8} md5 shards: the overlap of the federated top-10 with
    * the global top-10 (BM25 at the standard k1 = 1.2, b = 0.75 on
    * the q237 query terms), the recall, and the largest per-doc score
    * distortion |local − global| over the global top-10 — the numbers
    * that decide whether a tier needs a global-IDF broadcast (the
    * two-phase "global IDF refresh" every production search engine
    * runs) or can live with local stats.
    *
    * Exactness: scores are the q237 discipline — each per-term score
    * 9-dp-snapped into DECIMAL(28,9), summed exactly; ranks use the
    * (score desc, doc_id) total order on exact decimals; overlap is an
    * integer; recall/distortion are single 6-dp-snapped casts.
    *
    * Scale shape: one tokenize + tf/df pass shared by every shard
    * count (eagerly materialized); per S the local-df census is one
    * map-combinable (shard, term) agg over the |terms|-bounded tf
    * frame; rankings are rank windows over the matched-doc frame (the
    * q237/q296 boundedness class) keyed by a constant partition. */
  def q425FederatedIdf(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5Hash60
    val shardCounts = Seq(2, 4, 8)
    val k = 10
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val dl = graft.plans.Eager.ckpt(
      toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        .withColumn("h", md5Hash60(col("doc_id").cast("string"))))
    val tf = graft.plans.Eager.ckpt(
      toks.filter(col("term").isin(QueryTerms: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .join(dl, "doc_id"))
    def idf(nDocs: org.apache.spark.sql.Column,
            df: org.apache.spark.sql.Column) =
      log(lit(1.0) + ((nDocs.cast("double") - df) + lit(0.5)) /
        (df.cast("double") + lit(0.5)))
    def bm25(nDocs: org.apache.spark.sql.Column,
             df: org.apache.spark.sql.Column,
             sumDl: org.apache.spark.sql.Column) =
      round(idf(nDocs, df) * (col("tf").cast("double") * lit(2.2)) /
        (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) *
          (col("dl").cast("double") /
            (sumDl.cast("double") / nDocs.cast("double"))))), 9)
        .cast("decimal(28,9)")
    val gStats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val gDf = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val gScored = tf.join(broadcast(gDf), "term")
      .crossJoin(broadcast(gStats))
      .withColumn("sc", bm25(col("n_docs"), col("df"), col("sum_dl")))
      .groupBy(col("doc_id")).agg(sum(col("sc")).as("g_bm25"))
    val gTop = graft.plans.Eager.ckpt(gScored
      .withColumn("rk", row_number().over(Window.partitionBy(lit(1))
        .orderBy(col("g_bm25").desc, col("doc_id"))))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("g_bm25")))
    val perS = shardCounts.map { s =>
      val withShard = tf.withColumn("shard", pmod(col("h"), lit(s.toLong)))
      val lStats = dl.select(pmod(col("h"), lit(s.toLong)).as("shard"),
          col("dl"))
        .groupBy("shard")
        .agg(count(lit(1)).as("l_docs"), sum(col("dl")).as("l_sum_dl"))
      val lDf = withShard.groupBy("shard", "term")
        .agg(count(lit(1)).as("l_df"))
      val fScored = withShard.join(broadcast(lDf), Seq("shard", "term"))
        .join(broadcast(lStats), "shard")
        .withColumn("sc", bm25(col("l_docs"), col("l_df"),
          col("l_sum_dl")))
        .groupBy(col("doc_id")).agg(sum(col("sc")).as("f_bm25"))
      val fTop = fScored
        .withColumn("rk", row_number().over(Window.partitionBy(lit(1))
          .orderBy(col("f_bm25").desc, col("doc_id"))))
        .filter(col("rk") <= k)
        .select(col("doc_id"), col("f_bm25"))
      val overlap = fTop.join(gTop.select(col("doc_id")), "doc_id")
        .agg(count(lit(1)).as("overlap"))
      val dist = gTop.join(fScored, Seq("doc_id"), "left")
        .agg(max(abs(coalesce(col("f_bm25"),
          lit(0).cast("decimal(28,9)")) - col("g_bm25")))
          .as("max_dist"))
      overlap.crossJoin(dist)
        .select(lit(s.toLong).as("n_shards"), lit(k.toLong).as("k"),
          col("overlap"),
          r6(col("overlap").cast("double") / lit(k.toDouble))
            .as("recall_at_k"),
          r6(col("max_dist").cast("double")).as("max_score_drift"))
    }.reduce(_ unionAll _)
    perS.orderBy("n_shards")
  }

  val q425Sql: String = {
    import graft.functions.TextFunctions.md5Hash60Sql
    val h = md5Hash60Sql("CAST(doc_id AS VARCHAR)")
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tok2 AS (SELECT * FROM tok WHERE length(term) > 0),
      |dl AS (
      |  SELECT doc_id, COUNT(*) AS dl, (HASHEXPR) AS h
      |  FROM tok2 GROUP BY doc_id),
      |tf AS (
      |  SELECT t.doc_id, t.term, COUNT(*) AS tf
      |  FROM tok2 t WHERE t.term IN ('spark', 'query', 'join')
      |  GROUP BY 1, 2),
      |tfd AS (SELECT tf.*, dl.dl, dl.h FROM tf JOIN dl USING (doc_id)),
      |gs AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT)
      |  AS sum_dl FROM dl),
      |gdf AS (SELECT term, COUNT(*) AS df FROM tfd GROUP BY term),
      |gsc AS (
      |  SELECT doc_id, SUM(CAST(round(
      |    ln(1.0 + ((n_docs::DOUBLE - df) + 0.5) / (df::DOUBLE + 0.5))
      |    * (tf::DOUBLE * 2.2) / (tf::DOUBLE + 1.2 * (0.25 + 0.75 *
      |      (dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE)))), 9)
      |    AS DECIMAL(28,9))) AS g_bm25
      |  FROM tfd JOIN gdf USING (term) CROSS JOIN gs GROUP BY doc_id),
      |gtop AS (
      |  SELECT doc_id, g_bm25,
      |    row_number() OVER (ORDER BY g_bm25 DESC, doc_id) AS rk
      |  FROM gsc QUALIFY rk <= 10),
      |s(n_shards) AS (VALUES (CAST(2 AS BIGINT)), (4), (8)),
      |ls AS (
      |  SELECT n_shards, h % n_shards AS shard, COUNT(*) AS l_docs,
      |    CAST(SUM(dl) AS BIGINT) AS l_sum_dl
      |  FROM dl CROSS JOIN s GROUP BY 1, 2),
      |ldf AS (
      |  SELECT n_shards, h % n_shards AS shard, term, COUNT(*) AS l_df
      |  FROM tfd CROSS JOIN s GROUP BY 1, 2, 3),
      |fsc AS (
      |  SELECT l.n_shards, t.doc_id, SUM(CAST(round(
      |    ln(1.0 + ((l_docs::DOUBLE - l_df) + 0.5) / (l_df::DOUBLE + 0.5))
      |    * (tf::DOUBLE * 2.2) / (tf::DOUBLE + 1.2 * (0.25 + 0.75 *
      |      (dl::DOUBLE / (l_sum_dl::DOUBLE / l_docs::DOUBLE)))), 9)
      |    AS DECIMAL(28,9))) AS f_bm25
      |  FROM tfd t
      |  JOIN ldf d ON d.term = t.term
      |  JOIN ls l ON l.n_shards = d.n_shards AND l.shard = d.shard
      |  WHERE t.h % d.n_shards = d.shard
      |  GROUP BY 1, 2),
      |ftop AS (
      |  SELECT n_shards, doc_id, f_bm25,
      |    row_number() OVER (PARTITION BY n_shards
      |      ORDER BY f_bm25 DESC, doc_id) AS rk
      |  FROM fsc QUALIFY rk <= 10),
      |ov AS (
      |  SELECT f.n_shards, COUNT(*) AS overlap
      |  FROM ftop f JOIN gtop g ON f.doc_id = g.doc_id GROUP BY 1),
      |dist AS (
      |  SELECT s.n_shards,
      |    MAX(abs(COALESCE(c.f_bm25, CAST(0 AS DECIMAL(28,9)))
      |      - g.g_bm25)) AS max_dist
      |  FROM s CROSS JOIN gtop g
      |  LEFT JOIN fsc c
      |    ON c.doc_id = g.doc_id AND c.n_shards = s.n_shards
      |  GROUP BY 1)
      |SELECT s.n_shards, CAST(10 AS BIGINT) AS k,
      |  CAST(COALESCE(ov.overlap, 0) AS BIGINT) AS overlap,
      |  round(CAST(COALESCE(ov.overlap, 0) AS DOUBLE) / 10.0, 6) + 0.0
      |    AS recall_at_k,
      |  round(CAST(max_dist AS DOUBLE), 6) + 0.0 AS max_score_drift
      |FROM s LEFT JOIN ov ON s.n_shards = ov.n_shards
      |JOIN dist ON s.n_shards = dist.n_shards
      |ORDER BY s.n_shards""".stripMargin
      .replace("(HASHEXPR)", s"($h)")
  }

  def queries: Seq[Query] = Seq(
    Query("q425_federated_idf", q425FederatedIdf _, q425Sql),
    Query("q321_rbo_overlap", q321RboOverlap _, q321Sql),
    Query("q296_ndcg_at10", q296NdcgAt10 _, q296Sql),
    Query("q237_bm25_stability", q237Bm25Stability _, q237Sql),
    Query("q78_bm25", q78Bm25 _, q78Sql),
    Query("q342_average_precision", q342AveragePrecision _, q342Sql),
    Query("q151_rrf_fusion", q151RrfFusion _, q151Sql))
}
