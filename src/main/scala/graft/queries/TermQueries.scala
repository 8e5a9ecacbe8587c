package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Query

/** Corpus-level TF-IDF term ranking over the `documents` table — the
  * "what characterizes each language's corpus slice" primitive a
  * training-data pipeline uses for corpus diagnostics and keyword-based
  * filtering. Extension scope (no reference twin): the reference's text
  * handling stops at pandas string cleaning (`dags/src/processor.py:59-61`);
  * this sits beside the other text-analysis operators (DocQueries q20/q23/
  * q24/q31).
  *
  * Shape at scale: one explode→groupBy pass builds the per-(doc, term)
  * occurrence table, which is persisted because BOTH the document-frequency
  * and the term-frequency aggregates consume it (the q42 lesson — without
  * the persist the token explosion re-runs per branch). df(term) is at most
  * vocabulary-sized, so its join back onto (lang, term) counts broadcasts;
  * N arrives as a broadcast 1-row cross join, never a driver collect. The
  * only full-data shuffles are the two hash aggregates, both map-side
  * partial.
  *
  * Cross-engine parity: scores are ROUND(tf * ln(N/df), 6) on BOTH engines —
  * `ln` is libm-dependent (JVM StrictMath-vs-glibc can differ in the last
  * ulp), so the rounded value is what's ranked and emitted; ranking ties
  * break on the term itself.
  */
object TermQueries {

  // --------------------------------------------------------------- q195
  /** TF-IDF cosine similarity over the PLANTED near-dup pairs — the
    * weighted-vector similarity the shingle family ignores: q22/q32
    * score SET overlap (every shingle equal), TF-IDF cosine weights
    * rare terms up and boilerplate down, which is why dedup review
    * queues rank candidate pairs by it. Scored on the deterministic
    * clone pairs (doc, doc+100000 with 3 appended tokens) so the oracle
    * is join-exact and the expected similarity is high-but-below-1 —
    * certifying the whole sparse-vector pipeline (tf, idf, weighted
    * dot, norms) end to end.
    *
    * Exactness: tf is exact; idf snaps to the 9-dp grid; each weight
    * is an exact (tf × idf₉) decimal re-snapped to (12,9); every
    * product in the dot/norm sums is rounded to 6 dp BEFORE summing so
    * the sums stay exact decimals whose unscaled values sit far under
    * 2^53 (the q183 cast-exactness discipline); the cosine is one
    * double chain rounded at 6 dp.
    *
    * Scale shape: one explode→groupBy to the (doc, term) weight table
    * (persisted: dot and norm branches both consume it), df joins at
    * vocabulary scale, and the pair dot is an equi-join on (term) with
    * the 1:1 planted pairing — no pair explosion anywhere. */
  def q195TfidfPairCosine(spark: SparkSession, dir: String): DataFrame = {
    val corpus = DocQueries.corpusWithNearDups(spark, dir)
      .select(col("doc_id"), col("text"))
    val tf = corpus
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nDocs = corpus.select(countDistinct(col("doc_id")).as("n_docs"))
    val df = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val w = tf.join(df, "term").crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        round(col("tf") * graft.functions.ExactMath.ln9(
          col("n_docs").cast("double") / col("df").cast("double")), 9)
          .cast("decimal(12,9)").as("w"))
    val norms = w.groupBy(col("doc_id"))
      .agg(sum(round(col("w") * col("w"), 6).cast("decimal(18,6)"))
        .as("n2"))
    val a = w.filter(col("doc_id") % 10 === 0 && col("doc_id") < 100000)
      .select(col("doc_id").as("a"), col("term"), col("w").as("wa"))
    val b = w.filter(col("doc_id") >= 100000)
      .select((col("doc_id") - 100000).as("a"), col("term"),
        col("w").as("wb"))
    val dot = a.join(b, Seq("a", "term"))
      .groupBy(col("a"))
      .agg(sum(round(col("wa") * col("wb"), 6).cast("decimal(18,6)"))
        .as("dot"), count(lit(1)).as("n_shared_terms"))
    dot
      .join(norms.select(col("doc_id").as("a"), col("n2").as("na")), "a")
      .join(norms.select((col("doc_id") - 100000).as("a"),
        col("n2").as("nb"))
        .where(col("a") >= 0), "a")
      .select(col("a").as("doc_id"), col("n_shared_terms"),
        (round(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))),
          6) + lit(0.0)).as("cosine"))
      .orderBy("doc_id")
  }

  val q195Sql: String =
    s"""WITH corpus AS (${DocQueries.corpusNearDupSql}),
      |tf AS MATERIALIZED (
      |  SELECT doc_id, term, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM corpus)
      |  WHERE length(term) > 0 GROUP BY 1, 2),
      |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
      |dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      |w AS MATERIALIZED (
      |  SELECT doc_id, tf.term,
      |    CAST(round(tf * CAST(round(ln(CAST(n_docs AS DOUBLE)
      |      / CAST(df AS DOUBLE)), 9) AS DECIMAL(12,9)), 9)
      |      AS DECIMAL(12,9)) AS w
      |  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN nd),
      |norms AS (
      |  SELECT doc_id,
      |    SUM(CAST(round(w * w, 6) AS DECIMAL(18,6))) AS n2
      |  FROM w GROUP BY 1),
      |dot AS (
      |  SELECT a.doc_id AS a,
      |    SUM(CAST(round(a.w * b.w, 6) AS DECIMAL(18,6))) AS dot,
      |    COUNT(*) AS n_shared_terms
      |  FROM (SELECT * FROM w WHERE doc_id % 10 = 0 AND doc_id < 100000) a
      |  JOIN (SELECT doc_id - 100000 AS doc_id, term, w FROM w
      |        WHERE doc_id >= 100000) b
      |    ON a.doc_id = b.doc_id AND a.term = b.term
      |  GROUP BY 1)
      |SELECT d.a AS doc_id, d.n_shared_terms,
      |  round(CAST(d.dot AS DOUBLE) /
      |    (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6)
      |    + 0.0 AS cosine
      |FROM dot d
      |JOIN norms na ON na.doc_id = d.a
      |JOIN norms nb ON nb.doc_id = d.a + 100000
      |ORDER BY doc_id""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q195_tfidf_pair_cosine", q195TfidfPairCosine _, q195Sql),
    Query("q44_tfidf_terms",
      ((spark: SparkSession, dir: String) => {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("lang"), col("text"))
        val perDoc = docs
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("term"))
          .filter(length(col("term")) > 0)
          .groupBy("doc_id", "lang", "term")
          .agg(count(lit(1)).as("occ"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val dfTbl = perDoc.groupBy("term").agg(count(lit(1)).as("df"))
        val tfTbl = perDoc.groupBy("lang", "term").agg(sum("occ").as("tf"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val scored = tfTbl
          .join(dfTbl, "term")
          .crossJoin(broadcast(nDocs))
          .withColumn("score", round(
            col("tf").cast("double") *
              log(col("n_docs").cast("double") / col("df").cast("double")), 6))
        val w = Window.partitionBy("lang")
          .orderBy(col("score").desc, col("term"))
        // Eager top-k materialization (3 rows per lang) lets perDoc be
        // unpersisted here — CacheManager pins persist() entries strongly,
        // so returning a lazy plan over perDoc would retain the exploded
        // token table for the JVM's lifetime.
        val out = scored
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("lang"), col("term"), col("tf"), col("df"),
            col("score"), col("rank"))
          .orderBy("lang", "rank")
          .localCheckpoint(true)
        perDoc.unpersist()
        out
      }),
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        |  FROM documents
        |), perdoc AS (
        |  SELECT doc_id, lang, term, COUNT(*) AS occ
        |  FROM tok WHERE length(term) > 0 GROUP BY 1, 2, 3
        |), dft AS (
        |  SELECT term, COUNT(*) AS df FROM perdoc GROUP BY 1
        |), tft AS (
        |  SELECT lang, term, CAST(SUM(occ) AS BIGINT) AS tf
        |  FROM perdoc GROUP BY 1, 2
        |), n AS (
        |  SELECT COUNT(*) AS n_docs FROM documents
        |), scored AS (
        |  SELECT lang, term, tf, df,
        |    ROUND(CAST(tf AS DOUBLE) *
        |      LN(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS score
        |  FROM tft JOIN dft USING (term) CROSS JOIN n
        |), ranked AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY lang ORDER BY score DESC, term) AS INTEGER) AS rank
        |  FROM scored
        |)
        |SELECT lang, term, tf, df, score, rank
        |FROM ranked WHERE rank <= 3 ORDER BY lang, rank""".stripMargin))
}
