package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.ExactMath.r6

/** Corpus readability telemetry — the syllable-level cousin of q23's
  * quality scores and q31's token counts: vowel-group syllable counting
  * feeding a Flesch-style reading-ease summary per language. Curation
  * pipelines bucket corpora by readability to balance training mixes
  * (simple-English vs technical registers score ~40 points apart), and
  * the syllable approximation used here (count of vowel runs) is the
  * standard dictionary-free estimator.
  */
object TextMetricsQueries {

  /** Number of maximal runs of characters of `cls` (a regex character
    * class) in `s`, computed WITHOUT a replacement-collision risk:
    * replacing each run with one char gives len_other + runs; deleting
    * runs gives len_other; the difference is the run count. Both engines
    * replace ALL occurrences (Spark always; the oracle passes 'g'), and
    * the classes used here are RE2/Java-identical. */
  private def runs(s: Column, cls: String): Column =
    (length(regexp_replace(s, cls + "+", "x")) -
      length(regexp_replace(s, cls + "+", ""))).cast("long")

  private def runsSql(s: String, cls: String): String =
    s"CAST(length(regexp_replace($s, '$cls+', 'x', 'g')) - " +
      s"length(regexp_replace($s, '$cls+', '', 'g')) AS BIGINT)"

  // --------------------------------------------------------------- q170
  /** Per-language reading-ease profile: exact corpus totals of words
    * (runs of [a-z0-9]), syllables (runs of [aeiouy] — the vowel-group
    * estimator), and letters, plus the Flesch reading-ease score
    * computed on corpus-level ratios. This corpus carries no sentence
    * punctuation (verified: zero [.!?] in the documents table), so the
    * conventional fallback applies — each document is one sentence —
    * making the W/S term words-per-document.
    *
    * Exactness: all three counts are per-doc INTEGER lengths differenced
    * from two regexp_replace passes (identical Java/RE2 semantics for
    * these character classes); per-lang sums are exact BIGINTs, and the
    * Flesch chain is ONE double expression spelled identically in the
    * twin — the q129 convention.
    *
    * Scale shape: a single map-combinable aggregate over documents — no
    * window, no join; the regexes are codegen'd per-row work. Linear by
    * construction, the same shape as q20/q23. */
  def q170Readability(spark: SparkSession, dir: String): DataFrame = {
    val lowered = lower(col("text"))
    val perDoc = Kpis.table(spark, dir, "documents")
      .select(col("lang"),
        runs(lowered, "[a-z0-9]").as("w"),
        runs(lowered, "[aeiouy]").as("y"),
        length(regexp_replace(lowered, "[^a-z]", "")).cast("long").as("letters"))
    perDoc
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("n_words"),
        sum(col("y")).as("n_syllables"),
        sum(col("letters")).as("n_letters"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_syllables"),
        (col("n_words").cast("double") / col("n_docs").cast("double"))
          .as("words_per_doc"),
        (col("n_syllables").cast("double") / col("n_words").cast("double"))
          .as("syllables_per_word"),
        (col("n_letters").cast("double") / col("n_words").cast("double"))
          .as("letters_per_word"),
        (lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") /
            col("n_docs").cast("double")) -
          lit(84.6) * (col("n_syllables").cast("double") /
            col("n_words").cast("double"))).as("flesch"))
      .orderBy("lang")
  }

  val q170Sql: String = {
    val w = runsSql("lower(text)", "[a-z0-9]")
    val y = runsSql("lower(text)", "[aeiouy]")
    val letters =
      "CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT)"
    s"""WITH per_doc AS (
      |  SELECT lang, $w AS w, $y AS y, $letters AS letters
      |  FROM documents),
      |agg AS (
      |  SELECT lang, COUNT(*) AS n_docs,
      |    CAST(SUM(w) AS BIGINT) AS n_words,
      |    CAST(SUM(y) AS BIGINT) AS n_syllables,
      |    CAST(SUM(letters) AS BIGINT) AS n_letters
      |  FROM per_doc GROUP BY lang)
      |SELECT lang, n_docs, n_words, n_syllables,
      |  CAST(n_words AS DOUBLE) / CAST(n_docs AS DOUBLE) AS words_per_doc,
      |  CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)
      |    AS syllables_per_word,
      |  CAST(n_letters AS DOUBLE) / CAST(n_words AS DOUBLE)
      |    AS letters_per_word,
      |  206.835 -
      |    1.015 * (CAST(n_words AS DOUBLE) / CAST(n_docs AS DOUBLE)) -
      |    84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
      |    AS flesch
      |FROM agg ORDER BY lang""".stripMargin
  }

  // --------------------------------------------------------------- q394
  /** Per-language tokenizer-fertility audit — the cost-equity table
    * behind every multilingual tokenizer decision (fertility disparity
    * is the standard measure of how much more a tokenizer charges one
    * language than another per unit of text): exact corpus totals per
    * language of whitespace tokens, BPE-style pre-tokens (q31's
    * `[a-z0-9]+|[^a-z0-9\s]` pre-tokenizer, the GPT-style coarse shape),
    * characters, and UTF-8 bytes, plus the derived rates — fertility
    * (pre-tokens per whitespace token), bytes per pre-token, and
    * characters per whitespace token. Read together the rates say which
    * languages the pre-tokenizer fragments hardest and how byte-level
    * models would re-price them.
    *
    * Exactness: all four counts are exact per-doc integers (regex
    * counts are RE2/Java-identical on these ASCII classes; byte counts
    * are UTF-8 octet lengths — Spark `octet_length` = DuckDB `strlen`);
    * per-lang sums are BIGINTs; each rate is ONE 6-dp-snapped division.
    *
    * Scale shape: a single map-combinable aggregate over documents —
    * no window, no join; |langs| output rows. q20/q31's shape. */
  def q394TokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang"),
        tokenCount(col("text")).cast("long").as("ws"),
        expr("size(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\\\s]', 0))")
          .cast("long").as("bpe"),
        length(col("text")).cast("long").as("chars"),
        octet_length(col("text")).cast("long").as("bytes"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        sum(col("chars")).as("chars"),
        sum(col("bytes")).as("bytes_utf8"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"),
        col("bpe_tokens"), col("chars"), col("bytes_utf8"),
        r6(col("bpe_tokens").cast("double") /
          col("ws_tokens").cast("double")).as("fertility"),
        r6(col("bytes_utf8").cast("double") /
          col("bpe_tokens").cast("double")).as("bytes_per_bpe_token"),
        r6(col("chars").cast("double") /
          col("ws_tokens").cast("double")).as("chars_per_ws_token"))
      .orderBy("lang")
  }

  val q394Sql: String =
    """WITH t AS (
      |  SELECT lang,
      |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+'))
      |         END AS BIGINT) AS ws,
      |    CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]'))
      |      AS BIGINT) AS bpe,
      |    CAST(length(text) AS BIGINT) AS chars,
      |    CAST(strlen(text) AS BIGINT) AS bytes
      |  FROM documents),
      |agg AS (
      |  SELECT lang, COUNT(*) AS n_docs,
      |    CAST(SUM(ws) AS BIGINT) AS ws_tokens,
      |    CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
      |    CAST(SUM(chars) AS BIGINT) AS chars,
      |    CAST(SUM(bytes) AS BIGINT) AS bytes_utf8
      |  FROM t GROUP BY lang)
      |SELECT lang, n_docs, ws_tokens, bpe_tokens, chars, bytes_utf8,
      |  round(CAST(bpe_tokens AS DOUBLE) / CAST(ws_tokens AS DOUBLE), 6)
      |    + 0.0 AS fertility,
      |  round(CAST(bytes_utf8 AS DOUBLE) / CAST(bpe_tokens AS DOUBLE), 6)
      |    + 0.0 AS bytes_per_bpe_token,
      |  round(CAST(chars AS DOUBLE) / CAST(ws_tokens AS DOUBLE), 6)
      |    + 0.0 AS chars_per_ws_token
      |FROM agg ORDER BY lang""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q170_readability", q170Readability _, q170Sql),
    Query("q394_tokenizer_fertility", q394TokenizerFertility _, q394Sql))
}
