package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.TextFunctions._

/** Positional-index retrieval over the `documents` table — the exact
  * phrase-match primitive that complements the bag-of-words rankers
  * (q44 TF-IDF, q78 BM25): a positional posting list (term, doc, pos)
  * and adjacency self-joins answering "where does this exact phrase
  * occur". Extension scope; sits beside the other text-retrieval
  * operators.
  */
object SearchQueries {

  // --------------------------------------------------------------- q167
  /** Exact 3-term phrase search ("data query join"): per document, the
    * number of occurrences and the first match position (1-based). The
    * positional postings build is one posexplode; each phrase term's
    * posting list is FILTERED OUT OF THE SCAN before any join (the
    * inverted-index access path — at corpus scale each list is
    * df(term)·avg_tf rows, a sliver of the token stream), and adjacency
    * is two equi-joins on (doc_id, position±k) — never a scan of the
    * document text per candidate.
    *
    * Scale shape: three pre-filtered posting streams shuffle on
    * (doc_id, pos-key) — each bounded by its term's document frequency,
    * the classic reason phrase queries stay cheap on a positional
    * index; the per-doc rollup reuses the last join's doc clustering.
    * All integers — bit-exact. */
  def q167PhraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val phrase = Seq("data", "query", "join")
    val toks = Kpis.table(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(tokens(lower(col("text")))).as(Seq("pos0", "term")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("term"))
    // each term's postings keyed by the ANCHOR position (where the
    // phrase would have to start) — adjacency becomes plain equi-joins
    def postings(t: String, off: Int) = toks
      .filter(col("term") === t)
      .select(col("doc_id"), (col("pos") - off).as("anchor"))
    phrase.zipWithIndex.map { case (t, off) => postings(t, off) }
      .reduce(_.join(_, Seq("doc_id", "anchor")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("anchor")).as("first_pos"))
      .orderBy("doc_id")
  }

  val q167Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |pos AS (
      |  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
      |  FROM d),
      |t AS (SELECT doc_id, i, toks[i] AS term FROM pos)
      |SELECT p1.doc_id, COUNT(*) AS n_matches, MIN(p1.i) AS first_pos
      |FROM t p1
      |JOIN t p2 ON p2.doc_id = p1.doc_id AND p2.i = p1.i + 1
      |  AND p2.term = 'query'
      |JOIN t p3 ON p3.doc_id = p1.doc_id AND p3.i = p1.i + 2
      |  AND p3.term = 'join'
      |WHERE p1.term = 'data'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q167_phrase_search", q167PhraseSearch _, q167Sql))
}
