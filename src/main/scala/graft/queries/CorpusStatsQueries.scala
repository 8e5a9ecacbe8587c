package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.ExactMath.r6
import graft.functions.TextFunctions._

/** Corpus-level statistical text mining beside [[LmQueries]]' perplexity
  * scores: PMI collocation extraction (the classic phrase/term-pair
  * discovery signal) and a per-language Zipf rank-frequency fit (the
  * standard sanity check that a crawled corpus has natural-language token
  * statistics rather than boilerplate or spam mass).
  */
object CorpusStatsQueries {

  // --------------------------------------------------------------- q112
  /** Top-30 bigram collocations by pointwise mutual information:
    * PMI(a,b) = ln( P(a,b) / (P(a)·P(b)) ) over the bigram corpus, with
    * positional marginals (a as first word, b as second) and a minimum
    * support of 5 to keep the estimator out of its noisy low-count
    * regime. High-PMI pairs are multi-word expressions ("Hong Kong")
    * whose joint probability far exceeds chance co-occurrence.
    *
    * Scale shape: bigrams come from the array-level zip_with on each
    * already-tokenized row (q83's shape — no positional self-join of an
    * exploded corpus); the three count tables are vocab-bounded hash
    * aggs with map-side partials; N is a 1-row broadcast; the top-30
    * lowers to TakeOrderedAndProject. Exactness: the PMI argument is a
    * ratio of exact long products in one double division; the single ln
    * is collapsed to the 9-dp grid with the negative-zero guard, and the
    * ordering key includes (w1, w2) so equal-PMI rows select
    * deterministically. */
  def q112PmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val d = Kpis.table(spark, dir, "documents")
      .select(tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) >= 2)
    val bg = d.select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // cab feeds four consumers (marginals, N, and the output join) —
    // checkpoint so the corpus tokenize + bigram explode runs ONCE, not
    // once per reference (the DuckDB twin's AS MATERIALIZED)
    val cab = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
      .localCheckpoint()
    val ca = cab.groupBy(col("w1")).agg(sum(col("c_ab")).as("c_a"))
    val cb = cab.groupBy(col("w2")).agg(sum(col("c_ab")).as("c_b"))
    val n = cab.agg(sum(col("c_ab")).as("n_bigrams"))
    cab.filter(col("c_ab") >= 5)
      .join(ca, "w1")
      .join(cb, "w2")
      .crossJoin(broadcast(n))
      // counts cast to double BEFORE multiplying: web-corpus marginal
      // products (c_a·c_b) overflow BIGINT long before the counts
      // themselves stop being exact doubles (< 2^53)
      .select(col("w1"), col("w2"), col("c_ab"),
        (round(log(
          (col("c_ab").cast("double") * col("n_bigrams").cast("double")) /
            (col("c_a").cast("double") * col("c_b").cast("double"))), 9)
          + lit(0.0))
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(30)
  }

  val q112Sql: String =
    """WITH d AS (
      |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |d2 AS (SELECT * FROM d WHERE len(toks) >= 2),
      |pos AS (
      |  SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
      |  FROM d2),
      |bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM pos),
      |cab AS MATERIALIZED (
      |  SELECT w1, w2, COUNT(*) AS c_ab FROM bg GROUP BY 1, 2),
      |ca AS (SELECT w1, CAST(SUM(c_ab) AS BIGINT) AS c_a
      |       FROM cab GROUP BY 1),
      |cb AS (SELECT w2, CAST(SUM(c_ab) AS BIGINT) AS c_b
      |       FROM cab GROUP BY 1),
      |n AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_bigrams FROM cab)
      |SELECT w1, w2, c_ab,
      |  round(ln((CAST(c_ab AS DOUBLE) * CAST(n_bigrams AS DOUBLE))
      |           / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))), 9)
      |    + 0.0 AS pmi
      |FROM cab
      |JOIN ca USING (w1)
      |JOIN cb USING (w2)
      |CROSS JOIN n
      |WHERE c_ab >= 5
      |ORDER BY pmi DESC, w1, w2
      |LIMIT 30""".stripMargin

  // --------------------------------------------------------------- q114
  /** Pairwise cross-language vocabulary overlap: for every language pair
    * the shared-type count and vocabulary Jaccard. High overlap between
    * two language slices of a crawl flags mislabeled language ID or
    * boilerplate contamination — the corpus-level twin of q24/q35's
    * per-document language signals.
    *
    * Scale shape: the corpus collapses to the DISTINCT (lang, token)
    * vocabulary table first (hash agg with map-side partials), and the
    * pair enumeration is a self-equi-join ON TOKEN of that small table —
    * never a document-level cross join; with L languages a token shared
    * by all of them expands to only C(L,2) rows. Jaccard is one double
    * division of exact longs. */
  def q114LangOverlap(spark: SparkSession, dir: String): DataFrame = {
    // vocab feeds four consumers (both self-join sides + two size
    // branches) — checkpoint so the corpus tokenize + distinct runs once
    val vocab = Kpis.table(spark, dir, "documents")
      .select(col("lang"), explode(tokens(lower(col("text")))).as("token"))
      .distinct()
      .localCheckpoint()
    val sizes = vocab.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val inter = vocab.select(col("lang").as("lang_a"), col("token"))
      .join(vocab.select(col("lang").as("lang_b"), col("token")), "token")
      .filter(col("lang_a") < col("lang_b"))
      .groupBy(col("lang_a"), col("lang_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.select(col("lang").as("lang_a"), col("n").as("n_a")),
        "lang_a")
      .join(sizes.select(col("lang").as("lang_b"), col("n").as("n_b")),
        "lang_b")
      .select(col("lang_a"), col("lang_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
          .as("vocab_jaccard"))
      .orderBy("lang_a", "lang_b")
  }

  val q114Sql: String =
    """WITH vocab AS MATERIALIZED (
      |  SELECT DISTINCT lang,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM documents WHERE length(trim(text)) > 0),
      |sizes AS (SELECT lang, COUNT(*) AS n FROM vocab GROUP BY 1),
      |inter AS (
      |  SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS n_shared
      |  FROM vocab a JOIN vocab b ON a.token = b.token AND a.lang < b.lang
      |  GROUP BY 1, 2)
      |SELECT lang_a, lang_b, sa.n AS n_a, sb.n AS n_b, n_shared,
      |  CAST(n_shared AS DOUBLE)
      |    / CAST(sa.n + sb.n - n_shared AS DOUBLE) AS vocab_jaccard
      |FROM inter
      |JOIN sizes sa ON sa.lang = lang_a
      |JOIN sizes sb ON sb.lang = lang_b
      |ORDER BY lang_a, lang_b""".stripMargin

  // --------------------------------------------------------------- q115
  /** Per-language Zipf fit: OLS slope/intercept of ln(frequency) against
    * ln(rank) over each language's token frequency table. Natural text
    * sits near slope ≈ −1; a corpus slice whose slope drifts far from
    * that is boilerplate, spam, or mis-identified language — this is the
    * distribution-level quality gate next to q59/q83's per-document
    * scores.
    *
    * Scale shape: the heavy work is one hash agg over the exploded
    * corpus (token counts); the rank window is PARTITIONED BY lang over
    * the vocabulary table only — vocabulary is orders of magnitude
    * smaller than the corpus, and no global single-partition sort ever
    * touches the token stream.
    *
    * Exactness: ln values are collapsed to the 9-dp grid and cast to
    * DECIMAL(18,9), so all five OLS sums are EXACT decimal/integer
    * arithmetic with no float summation-order jitter (the q69
    * convention, upgraded to decimal because ln outputs are not integer
    * grid points); the closed form is then single double ops on
    * identical exact operands, with a 6-dp output rounding absorbing the
    * ≤1-ulp cross-engine ln boundary odds. */
  def q115ZipfFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Kpis.table(spark, dir, "documents")
      .select(col("lang"), tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("lang"), explode(col("toks")).as("token"))
    val freq = tok.groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("f"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("f").desc, col("token"))
    val pts = freq.withColumn("r", row_number().over(w))
      .select(col("lang"),
        round(log(col("r").cast("double")), 9).cast("decimal(18,9)").as("x"),
        round(log(col("f").cast("double")), 9).cast("decimal(18,9)").as("y"))
    val sums = pts.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"))
    val nd = col("n").cast("double")
    val slope = (nd * col("sxy") - col("sx") * col("sy")) /
      (nd * col("sxx") - col("sx") * col("sx"))
    sums
      .withColumn("slope", slope)
      .select(col("lang"), col("n").as("n_types"),
        (round(col("slope"), 6) + lit(0.0)).as("zipf_slope"),
        (round((col("sy") - col("slope") * col("sx")) / nd, 6) + lit(0.0))
          .as("zipf_intercept"))
      .orderBy("lang")
  }

  val q115Sql: String =
    """WITH tok AS (
      |  SELECT lang,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM documents WHERE length(trim(text)) > 0),
      |freq AS (SELECT lang, token, COUNT(*) AS f FROM tok GROUP BY 1, 2),
      |pts AS (
      |  SELECT lang,
      |    CAST(round(ln(CAST(ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY f DESC, token) AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
      |    CAST(round(ln(CAST(f AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
      |  FROM freq),
      |sums AS (
      |  SELECT lang, COUNT(*) AS n,
      |    CAST(SUM(x) AS DOUBLE) AS sx,
      |    CAST(SUM(x * x) AS DOUBLE) AS sxx,
      |    CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(SUM(x * y) AS DOUBLE) AS sxy
      |  FROM pts GROUP BY 1)
      |SELECT lang, n AS n_types,
      |  round((CAST(n AS DOUBLE) * sxy - sx * sy)
      |        / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) + 0.0 AS zipf_slope,
      |  round((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
      |               / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
      |        / CAST(n AS DOUBLE), 6) + 0.0 AS zipf_intercept
      |FROM sums ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q147
  /** Heaps'-law vocabulary growth: V(N) ≈ K·N^β fitted as OLS of ln V
    * against ln N over the document stream in doc_id order — q115's
    * power-law companion (Zipf describes the frequency profile at a
    * corpus snapshot; Heaps predicts how the vocabulary GROWS, which is
    * what sizes a tokenizer's vocab budget as the corpus scales).
    *
    * Scale shape: per-token first-carrier via one min() hash agg (the
    * q141 machinery), re-aggregated into per-doc new-type credits; the
    * cumulative (N, V) series is a window over the DOC series (entity-
    * sized, q139 posture), and the OLS runs on q115's exact 9-dp
    * decimal grid with the same 6-dp output rounding. */
  def q147HeapsFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Kpis.table(spark, dir, "documents")
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) > 0)
    val newTypes = d
      .select(col("doc_id"), explode(array_distinct(col("toks"))).as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("fd"))
      .groupBy(col("fd").as("doc_id")).agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = d.select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
      .join(newTypes, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .select(
        round(log(sum(col("n_toks")).over(w).cast("double")), 9)
          .cast("decimal(18,9)").as("x"),
        round(log(sum(col("new_types")).over(w).cast("double")), 9)
          .cast("decimal(18,9)").as("y"))
    val sums = pts.agg(count(lit(1)).as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("x") * col("x")).cast("double").as("sxx"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("x") * col("y")).cast("double").as("sxy"))
    val nd = col("n").cast("double")
    val slope = (nd * col("sxy") - col("sx") * col("sy")) /
      (nd * col("sxx") - col("sx") * col("sx"))
    sums.withColumn("slope", slope)
      .select(col("n").as("n_docs"),
        (round(col("slope"), 6) + lit(0.0)).as("heaps_beta"),
        (round((col("sy") - col("slope") * col("sx")) / nd, 6) + lit(0.0))
          .as("heaps_ln_k"))
  }

  val q147Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |tokd AS (
      |  SELECT DISTINCT doc_id, tok FROM (
      |    SELECT doc_id, unnest(toks) AS tok FROM d)),
      |nt AS (
      |  SELECT fd AS doc_id, COUNT(*) AS new_types FROM (
      |    SELECT tok, MIN(doc_id) AS fd FROM tokd GROUP BY 1)
      |  GROUP BY 1),
      |series AS (
      |  SELECT doc_id, len(toks) AS n_toks,
      |    COALESCE(new_types, 0) AS new_types
      |  FROM d LEFT JOIN nt USING (doc_id)),
      |pts AS (
      |  SELECT
      |    CAST(round(ln(CAST(SUM(n_toks) OVER (ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
      |    CAST(round(ln(CAST(SUM(new_types) OVER (ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
      |  FROM series),
      |sums AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(x * x) AS DOUBLE) AS sxx,
      |    CAST(SUM(y) AS DOUBLE) AS sy, CAST(SUM(x * y) AS DOUBLE) AS sxy
      |  FROM pts)
      |SELECT n AS n_docs,
      |  round((CAST(n AS DOUBLE) * sxy - sx * sy)
      |        / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) + 0.0 AS heaps_beta,
      |  round((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
      |               / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
      |        / CAST(n AS DOUBLE), 6) + 0.0 AS heaps_ln_k
      |FROM sums""".stripMargin

  // --------------------------------------------------------------- q184
  /** Vocabulary-richness census per language: token count, vocabulary
    * size, hapax legomena (tokens occurring exactly once), the hapax
    * fraction of the vocabulary, and the type-token ratio. The
    * lexical-diversity siblings of q115's Zipf slope and q147's Heaps
    * exponent — and the practical dedup/quality tell: boilerplate-heavy
    * or template-generated corpora collapse the hapax fraction long
    * before a Zipf fit moves, so curation pipelines track it per source
    * per batch.
    *
    * Exactness: everything through the final two ratios is exact BIGINT
    * census arithmetic; the ratios are single double divisions.
    *
    * Scale shape: one shuffle to the (lang, token) census (map-side
    * combine absorbs the explode fan-out), one map-combinable rollup to
    * |langs| rows. The census is vocabulary-bounded — corpus growth
    * adds occurrences, not rows, past the vocabulary's saturation. */
  def q184VocabRichness(spark: SparkSession, dir: String): DataFrame = {
    val census = Kpis.table(spark, dir, "documents")
      .select(col("lang"), explode(tokens(lower(col("text")))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    census
      .groupBy(col("lang"))
      .agg(
        sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"))
      .select(col("lang"), col("n_tokens"), col("vocab"), col("hapax"),
        (col("hapax").cast("double") / col("vocab").cast("double"))
          .as("hapax_frac"),
        (col("vocab").cast("double") / col("n_tokens").cast("double"))
          .as("type_token_ratio"))
      .orderBy("lang")
  }

  val q184Sql: String =
    """WITH tok AS (
      |  SELECT lang,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM documents WHERE length(trim(text)) > 0),
      |census AS (
      |  SELECT lang, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
      |r AS (
      |  SELECT lang,
      |    CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |    COUNT(*) AS vocab,
      |    CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
      |  FROM census GROUP BY 1)
      |SELECT lang, n_tokens, vocab, hapax,
      |  CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE) AS hapax_frac,
      |  CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS type_token_ratio
      |FROM r ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q205
  /** Term burstiness for the 20 highest-document-frequency terms:
    * Church–Gale "burstiness" (mean within-document tf over the docs that
    * CONTAIN the term) and the Fano factor (variance-to-mean ratio of tf
    * over containing docs). A term with fano ≈ 0 appears a fixed number
    * of times wherever it appears (function-word behavior); fano ≫ 1
    * marks topical terms that cluster — the standard signal for keyword
    * extraction and stopword-list induction over a training corpus.
    *
    * Exactness: df, cf = Σtf, s2 = Σtf² are exact integers from the
    * (doc, term) tf census; mean and Fano are single double expressions
    * over them — Fano via the integer numerator s2·df − cf² (DECIMAL-cast
    * so products stay exact past BIGINT at corpus scale) — rounded at
    * 6 dp with the −0.0 guard. Top-20 selection is deterministic:
    * df DESC, token ASC.
    *
    * Scale shape: explode → (doc, term) hash agg (map-combinable) →
    * vocab-bounded per-term agg; the top-20 lowers to
    * TakeOrderedAndProject, never a global sort. */
  def q205TermBurstiness(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val tf = spark.read.parquet(s"$dir/documents.parquet")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    tf.groupBy(col("token"))
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("cf"),
        sum(col("tf").cast("decimal(18,0)") * col("tf").cast("decimal(18,0)"))
          .as("s2"))
      .select(
        col("token"), col("df"), col("cf"),
        (round(col("cf").cast("double") / col("df").cast("double"), 6) +
          lit(0.0)).as("burstiness"),
        (round(
          (col("s2") * col("df").cast("decimal(18,0)") -
            col("cf").cast("decimal(18,0)") *
              col("cf").cast("decimal(18,0)")).cast("double") /
            (col("df").cast("double") * col("cf").cast("double")),
          6) + lit(0.0)).as("fano"))
      .orderBy(desc("df"), asc("token"))
      .limit(20)
  }

  val q205Sql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM documents WHERE length(trim(text)) > 0),
      |tf AS (
      |  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |term AS (
      |  SELECT token, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
      |    SUM(CAST(tf AS DECIMAL(18,0)) * CAST(tf AS DECIMAL(18,0))) AS s2
      |  FROM tf GROUP BY 1)
      |SELECT token, df, cf,
      |  round(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 6) + 0.0
      |    AS burstiness,
      |  round(
      |    CAST(s2 * CAST(df AS DECIMAL(18,0)) -
      |      CAST(cf AS DECIMAL(18,0)) * CAST(cf AS DECIMAL(18,0))
      |      AS DOUBLE) /
      |    (CAST(df AS DOUBLE) * CAST(cf AS DOUBLE)),
      |    6) + 0.0 AS fano
      |FROM term ORDER BY df DESC, token LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q265
  /** Lexical-diversity profile per language, three classical indices
    * off one token-frequency census: Yule's K = 10⁴·(Σc² − N)/N²
    * (repeat-rate characteristic, length-invariant where q184's raw
    * TTR is not), Simpson's repeat probability (Σc(c−1))/(N(N−1))
    * (chance two random tokens are the same type), and the Shannon
    * effective vocabulary e^H (Hill number q=1 — "the corpus behaves
    * like this many equally-common types"). Together they grade corpus
    * richness on a scale that can be compared ACROSS differently-sized
    * language slices — the check that a filtering pass didn't collapse
    * a language's diversity even when its token count looks healthy.
    *
    * Exactness: the (lang, token, count) census is exact; Σc² is an
    * exact DECIMAL sum, so Yule's K and Simpson have exact integer
    * numerators/denominators with ONE closing double op each; H is the
    * q137 count-weighted ln9 grid; e^H and the two ratios are
    * 6-dp-rounded (−0.0-guarded) to absorb libm ulp.
    *
    * Scale shape: explode → map-combinable (lang, token) agg →
    * vocab-bounded census; the per-lang N is a window over the census
    * partitioned by lang; one final census-scale agg. */
  def q265YuleDiversity(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactMath.ln9
    import org.apache.spark.sql.expressions.Window
    val census = Kpis.table(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("lang"), explode(tokens(lower(col("text")))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("lang"))))
    val cD = col("cnt").cast("decimal(18,0)")
    val st = census
      .select(col("lang"), col("cnt"), col("n"),
        (cD * cD).as("c2"),
        (ln9(col("n").cast("double") / col("cnt").cast("double")) *
          col("cnt")).as("hw"))
      .groupBy(col("lang"))
      .agg(max(col("n")).as("n_tokens"), count(lit(1)).as("vocab"),
        sum(col("c2")).as("s2"), sum(col("hw")).as("sh"))
    val n = col("n_tokens").cast("double")
    st.select(col("lang"), col("n_tokens"), col("vocab"),
        (round((col("s2") - col("n_tokens").cast("decimal(18,0)"))
          .cast("double") * lit(10000.0) / (n * n), 6) + lit(0.0))
          .as("yule_k"),
        (round((col("s2") - col("n_tokens").cast("decimal(18,0)"))
          .cast("double") / (n * (n - lit(1.0))), 6) + lit(0.0))
          .as("simpson_repeat"),
        (round(exp(col("sh").cast("double") / n), 6) + lit(0.0))
          .as("eff_vocab"))
      .orderBy("lang")
  }

  val q265Sql: String =
    """WITH tok AS (
      |  SELECT lang,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM documents WHERE length(trim(text)) > 0),
      |census AS (
      |  SELECT lang, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
      |m AS (
      |  SELECT lang, cnt, SUM(cnt) OVER (PARTITION BY lang) AS n
      |  FROM census),
      |st AS (
      |  SELECT lang, CAST(MAX(n) AS BIGINT) AS n_tokens,
      |    COUNT(*) AS vocab,
      |    SUM(CAST(cnt AS DECIMAL(18,0)) * CAST(cnt AS DECIMAL(18,0)))
      |      AS s2,
      |    SUM(CAST(round(ln(CAST(n AS DOUBLE) / CAST(cnt AS DOUBLE)), 9)
      |      AS DECIMAL(12,9)) * cnt) AS sh
      |  FROM m GROUP BY 1)
      |SELECT lang, n_tokens, vocab,
      |  round(CAST(s2 - CAST(n_tokens AS DECIMAL(18,0)) AS DOUBLE)
      |      * 10000.0 /
      |      (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)), 6)
      |    + 0.0 AS yule_k,
      |  round(CAST(s2 - CAST(n_tokens AS DECIMAL(18,0)) AS DOUBLE)
      |      / (CAST(n_tokens AS DOUBLE) *
      |         (CAST(n_tokens AS DOUBLE) - 1.0)), 6) + 0.0
      |    AS simpson_repeat,
      |  round(exp(CAST(sh AS DOUBLE) / CAST(n_tokens AS DOUBLE)), 6)
      |    + 0.0 AS eff_vocab
      |FROM st ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q298
  /** Chao1 unseen-vocabulary estimate: from the token-frequency census,
    * the bias-corrected Chao1 lower bound on TRUE vocabulary size,
    * D̂ = D + f₁(f₁−1)/(2(f₂+1)) with f₁/f₂ the singleton/doubleton type
    * counts — the species-richness answer to "how much vocabulary has
    * this corpus NOT shown yet", complementing q147's Heaps growth CURVE
    * (trajectory) and q242's coverage planner (top-k mass) with a point
    * estimate of what lies beyond the sample. Coverage = D/D̂ says how
    * close the observed vocabulary is to the estimated total.
    *
    * Exactness: D, f₁, f₂, token totals are exact integers; the
    * correction term is ONE integer-ratio division, D̂ one further add,
    * coverage one division of the two identically-derived doubles.
    *
    * Scale shape: one token shuffle into the frequency census, then a
    * census-level map-combinable agg to a single row. */
  def q298Chao1Vocab(spark: SparkSession, dir: String): DataFrame = {
    val census = Kpis.table(spark, dir, "documents")
      .select(explode(tokens(lower(col("text")))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
    val agg = census.agg(
      sum(col("cnt")).as("n_tokens"),
      count(lit(1)).as("d_observed"),
      sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("f1"),
      sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("f2"))
    val chao1 = col("d_observed").cast("double") +
      (col("f1") * (col("f1") - lit(1L))).cast("double") /
        (lit(2L) * (col("f2") + lit(1L))).cast("double")
    agg.select(col("n_tokens"), col("d_observed"), col("f1"), col("f2"),
      chao1.as("chao1_est"),
      (col("d_observed").cast("double") / chao1).as("coverage"))
  }

  val q298Sql: String =
    """WITH tok AS (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
      |    AS token
      |  FROM documents WHERE length(trim(text)) > 0),
      |census AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
      |r AS (
      |  SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |    COUNT(*) AS d_observed,
      |    CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |    CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      |  FROM census)
      |SELECT n_tokens, d_observed, f1, f2,
      |  CAST(d_observed AS DOUBLE)
      |    + CAST(f1 * (f1 - 1) AS DOUBLE) / CAST(2 * (f2 + 1) AS DOUBLE)
      |    AS chao1_est,
      |  CAST(d_observed AS DOUBLE) /
      |    (CAST(d_observed AS DOUBLE)
      |     + CAST(f1 * (f1 - 1) AS DOUBLE) / CAST(2 * (f2 + 1) AS DOUBLE))
      |    AS coverage
      |FROM r""".stripMargin

  // --------------------------------------------------------------- q326
  /** Jarque–Bera log-normality probe of document lengths per source:
    * natural-text corpora famously have ~log-normal length
    * distributions, and a source whose log-lengths FAIL normality
    * (JB = n/6·(S² + K²/4) over skewness S and excess kurtosis K) is
    * the signature of mixed content — boilerplate floods, truncation
    * caps, concatenated shards — that length-quantile screens (q283)
    * see only as fatter tails. The distribution-SHAPE gate of the
    * curation family.
    *
    * Exactness: x = ln(n_chars) snapped to the 4-dp decimal grid, so
    * the four power sums Σx..Σx⁴ are EXACT decimal arithmetic (4-dp
    * powers stay within width 38; the 9-dp grid would not); every
    * moment/statistic after is a fixed IEEE expression over those exact
    * sums (all below 2⁵³ — doubles cast exactly); JB is compared
    * against the χ²(2 df) 95% literal 5.991464547.
    *
    * Scale shape: one map-combinable per-source agg off the scan —
    * no join, no window, |sources| output rows. */
  def q326JarqueBera(spark: SparkSession, dir: String): DataFrame = {
    val x = round(log(col("n_chars").cast("double")), 4)
      .cast("decimal(8,4)")
    val sums = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("n_chars") > 0)
      .select(col("source"), x.as("x"))
      .withColumn("x2", (col("x") * col("x")).cast("decimal(17,8)"))
      .withColumn("x3", (col("x2") * col("x")).cast("decimal(26,12)"))
      .withColumn("x4", (col("x3") * col("x")).cast("decimal(35,16)"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("s1"),
        sum(col("x2")).cast("double").as("s2"),
        sum(col("x3")).cast("double").as("s3"),
        sum(col("x4")).cast("double").as("s4"))
    val nD = col("n").cast("double")
    val m1 = col("s1") / nD
    val m2 = col("s2") / nD - m1 * m1
    val m3 = col("s3") / nD - lit(3.0) * m1 * (col("s2") / nD) +
      lit(2.0) * m1 * m1 * m1
    val m4 = col("s4") / nD - lit(4.0) * m1 * (col("s3") / nD) +
      lit(6.0) * m1 * m1 * (col("s2") / nD) -
      lit(3.0) * m1 * m1 * m1 * m1
    val skew = m3 / (m2 * sqrt(m2))
    val kurt = m4 / (m2 * m2) - lit(3.0)
    val jb = nD / lit(6.0) * (skew * skew + kurt * kurt / lit(4.0))
    sums.select(col("source"), col("n").as("n_docs"),
        (round(m1, 6) + lit(0.0)).as("mean_loglen"),
        (round(m2, 6) + lit(0.0)).as("var_loglen"),
        (round(skew, 6) + lit(0.0)).as("skewness"),
        (round(kurt, 6) + lit(0.0)).as("excess_kurtosis"),
        (round(jb, 6) + lit(0.0)).as("jb_stat"),
        (jb >= lit(5.991464547)).as("reject_normal_95"))
      .orderBy("source")
  }

  val q326Sql: String =
    """WITH obs AS (
      |  SELECT source,
      |    CAST(round(ln(CAST(n_chars AS DOUBLE)), 4) AS DECIMAL(8,4))
      |      AS x
      |  FROM documents WHERE n_chars > 0),
      |pw AS (
      |  SELECT source, x,
      |    CAST(x * x AS DECIMAL(17,8)) AS x2
      |  FROM obs),
      |pw2 AS (
      |  SELECT source, x, x2,
      |    CAST(x2 * x AS DECIMAL(26,12)) AS x3
      |  FROM pw),
      |pw3 AS (
      |  SELECT source, x, x2, x3,
      |    CAST(x3 * x AS DECIMAL(35,16)) AS x4
      |  FROM pw2),
      |sums AS (
      |  SELECT source, COUNT(*) AS n,
      |    CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS s1,
      |    CAST(CAST(SUM(x2) AS VARCHAR) AS DOUBLE) AS s2,
      |    CAST(CAST(SUM(x3) AS VARCHAR) AS DOUBLE) AS s3,
      |    CAST(CAST(SUM(x4) AS VARCHAR) AS DOUBLE) AS s4
      |  FROM pw3 GROUP BY 1),
      |m AS (
      |  SELECT source, n,
      |    s1 / CAST(n AS DOUBLE) AS m1,
      |    s2 / CAST(n AS DOUBLE)
      |      - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) AS m2,
      |    s3 / CAST(n AS DOUBLE)
      |      - 3.0 * (s1 / CAST(n AS DOUBLE)) * (s2 / CAST(n AS DOUBLE))
      |      + 2.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
      |        * (s1 / CAST(n AS DOUBLE)) AS m3,
      |    s4 / CAST(n AS DOUBLE)
      |      - 4.0 * (s1 / CAST(n AS DOUBLE)) * (s3 / CAST(n AS DOUBLE))
      |      + 6.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
      |        * (s2 / CAST(n AS DOUBLE))
      |      - 3.0 * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))
      |        * (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) AS m4
      |  FROM sums),
      |st AS (
      |  SELECT source, n, m1, m2,
      |    m3 / (m2 * sqrt(m2)) AS skew,
      |    m4 / (m2 * m2) - 3.0 AS kurt
      |  FROM m)
      |SELECT source, n AS n_docs,
      |  round(m1, 6) + 0.0 AS mean_loglen,
      |  round(m2, 6) + 0.0 AS var_loglen,
      |  round(skew, 6) + 0.0 AS skewness,
      |  round(kurt, 6) + 0.0 AS excess_kurtosis,
      |  round(CAST(n AS DOUBLE) / 6.0
      |    * (skew * skew + kurt * kurt / 4.0), 6) + 0.0 AS jb_stat,
      |  CAST(n AS DOUBLE) / 6.0 * (skew * skew + kurt * kurt / 4.0)
      |    >= 5.991464547 AS reject_normal_95
      |FROM st ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q372
  /** Good–Turing unseen-mass certificate — the PREDICTION-vs-MEASUREMENT
    * pairing the vocabulary family lacks: q298's Chao1 estimates how
    * many types are unseen; Good–Turing estimates how much PROBABILITY
    * MASS the next tokens will spend on them (P₀ ≈ f₁/N, the Good
    * estimator), and q371's train/held-out split lets this query verify
    * the prediction against reality — the measured share of held-out
    * tokens whose type never occurs in training. Also emits the
    * singleton Good–Turing discount r*₁ = 2·f₂/f₁ (what a singleton's
    * count is "worth" after smoothing) — the quantity Katz/Kneser-Ney
    * implementations are built around.
    *
    * Exactness: all counts exact integers off the train frequency
    * census and one LEFT join of the held-out token stream; every
    * emitted double is a single int/int division snapped at 6 dp.
    *
    * Scale shape: one train token shuffle into the frequency census,
    * one held-out token stream LEFT-joined against it (AQE broadcasts
    * the census while it fits) into a map-combinable 1-row agg. */
  def q372GoodTuring(spark: SparkSession, dir: String): DataFrame = {
    val d = Kpis.table(spark, dir, "documents")
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) > 0)
    val c1 = d.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gt = c1.agg(
      sum(col("cnt")).as("n_train_tokens"),
      count(lit(1)).as("n_train_types"),
      sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("f1"),
      sum(when(col("cnt") === 2L, 1L).otherwise(0L)).as("f2"))
    val m = d.filter(pmod(col("doc_id"), lit(2)) === 1)
      .select(explode(col("toks")).as("w"))
      .join(c1, Seq("w"), "left")
      .agg(count(lit(1)).as("n_test_tokens"),
        sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("oov_tokens"))
    val dbl = (c: String) => col(c).cast("double")
    val gtMass = dbl("f1") / dbl("n_train_tokens")
    val oovRate = dbl("oov_tokens") / dbl("n_test_tokens")
    val out = graft.plans.Eager.ckpt(
      gt.crossJoin(broadcast(m)).select(
        col("n_train_tokens"), col("n_train_types"), col("f1"), col("f2"),
        col("n_test_tokens"), col("oov_tokens"),
        (round(gtMass, 6) + lit(0.0)).as("gt_unseen_mass"),
        when(col("f1") === 0L, lit(0.0))
          .otherwise(round(lit(2.0) * dbl("f2") / dbl("f1"), 6) + lit(0.0))
          .as("r_star_1"),
        (round(oovRate, 6) + lit(0.0)).as("measured_oov_rate"),
        (round(gtMass - oovRate, 6) + lit(0.0)).as("gt_minus_measured")))
    c1.unpersist()
    out
  }

  val q372Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |c1 AS (
      |  SELECT w, COUNT(*) AS cnt
      |  FROM (SELECT unnest(toks) AS w FROM d WHERE doc_id % 2 = 0)
      |  GROUP BY 1),
      |gt AS (
      |  SELECT CAST(SUM(cnt) AS BIGINT) AS n_train_tokens,
      |    COUNT(*) AS n_train_types,
      |    CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |    CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      |  FROM c1),
      |m AS (
      |  SELECT COUNT(*) AS n_test_tokens,
      |    CAST(SUM(CASE WHEN c1.cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS oov_tokens
      |  FROM (SELECT unnest(toks) AS w FROM d WHERE doc_id % 2 = 1) t
      |  LEFT JOIN c1 USING (w))
      |SELECT n_train_tokens, n_train_types, f1, f2, n_test_tokens,
      |  oov_tokens,
      |  round(CAST(f1 AS DOUBLE) / CAST(n_train_tokens AS DOUBLE), 6)
      |    + 0.0 AS gt_unseen_mass,
      |  CASE WHEN f1 = 0 THEN 0.0
      |       ELSE round(2.0 * CAST(f2 AS DOUBLE) / CAST(f1 AS DOUBLE), 6)
      |         + 0.0 END AS r_star_1,
      |  round(CAST(oov_tokens AS DOUBLE) / CAST(n_test_tokens AS DOUBLE),
      |    6) + 0.0 AS measured_oov_rate,
      |  round(CAST(f1 AS DOUBLE) / CAST(n_train_tokens AS DOUBLE)
      |    - CAST(oov_tokens AS DOUBLE) / CAST(n_test_tokens AS DOUBLE), 6)
      |    + 0.0 AS gt_minus_measured
      |FROM gt, m""".stripMargin

  // --------------------------------------------------------------- q418
  /** Negative-sampling smoothing table — the unigram^α exponent every
    * embedding trainer hard-codes (word2vec ships α = 0.75), priced on
    * the real census: for α ∈ {0.5, 0.75, 1.0} the smoothed sampling
    * distribution p_α(t) ∝ cnt(t)^α is summarized by its entropy (and
    * the implied effective vocabulary 2^H — how many "equally likely"
    * tokens the sampler behaves as), the mass captured by the top
    * decile of tokens, and the mass granted to the bottom half — the
    * rare-token boost that IS the reason α < 1 exists. Reading the
    * three rows against each other is choosing α.
    *
    * Exactness: smoothed weights are pow(cnt, α) snapped at 9 dp into
    * DECIMAL sums (exact totals); each p and entropy term is an
    * identical-operand IEEE expression snapped at 9 dp before the
    * DECIMAL entropy sum; headline numbers are 6-dp snapped. Decile /
    * half membership comes from the exact (cnt desc, token) vocab
    * rank.
    *
    * Scale shape: ONE token census (the q59 explode + vocab-bounded
    * hash agg), one eagerly-shared RangeRank over the CENSUS (vocab
    * scale), a 3× explode of the vocab for the α grid, per-α totals
    * broadcast back for the entropy pass. Nothing beyond the census
    * explode touches fact scale. */
  def q418NegSampling(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val census = spark.read.parquet(s"$dir/documents.parquet")
      .filter(length(trim(col("text"))) > 0)
      .select(explode(tokens(lower(col("text")))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val ranked = graft.plans.Eager.ckpt(graft.operators.RangeRank
      .withGlobalRank(census, "rk", Seq(col("cnt").desc, col("token"))))
    val v = ranked.agg(count(lit(1))).head().getLong(0)
    val graded = ranked.select(col("cnt"), col("rk"),
        expr("stack(3, 0.5D, 0.75D, 1.0D) as (alpha)"))
      .withColumn("w",
        round(pow(col("cnt").cast("double"), col("alpha")), 9)
          .cast("decimal(24,9)"))
    val totals = graded.groupBy(col("alpha"))
      .agg(sum(col("w")).as("tw"))
    graded.join(broadcast(totals), "alpha")
      .withColumn("p", col("w").cast("double") / col("tw").cast("double"))
      .withColumn("ent_term",
        round(-col("p") * log2(col("p")), 9).cast("decimal(22,9)"))
      .groupBy(col("alpha"))
      .agg(count(lit(1)).as("vocab"),
        sum(col("ent_term")).as("se"),
        sum(when(col("rk") <= (v + 9) / 10,
          col("w")).otherwise(lit(0).cast("decimal(24,9)")))
          .as("wtop"),
        sum(when(col("rk") > v / 2,
          col("w")).otherwise(lit(0).cast("decimal(24,9)")))
          .as("wbot"),
        max(col("tw")).as("tw"))
      .select(col("alpha"), col("vocab"),
        r6(col("se").cast("double")).as("entropy_bits"),
        r6(pow(lit(2.0), round(col("se").cast("double"), 6)))
          .as("effective_vocab"),
        r6(col("wtop").cast("double") / col("tw").cast("double"))
          .as("top_decile_mass"),
        r6(col("wbot").cast("double") / col("tw").cast("double"))
          .as("bottom_half_mass"))
      .orderBy("alpha")
  }

  val q418Sql: String =
    """WITH d AS (
      |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |census AS (
      |  SELECT token, COUNT(*) AS cnt
      |  FROM (SELECT unnest(toks) AS token FROM d) GROUP BY token),
      |ranked AS (
      |  SELECT cnt,
      |    row_number() OVER (ORDER BY cnt DESC, token) AS rk,
      |    COUNT(*) OVER () AS v
      |  FROM census),
      |a(alpha) AS (VALUES (CAST(0.5 AS DOUBLE)), (0.75), (1.0)),
      |graded AS (
      |  SELECT alpha, cnt, rk, v,
      |    CAST(round(pow(cnt::DOUBLE, alpha), 9) AS DECIMAL(24,9)) AS w
      |  FROM ranked CROSS JOIN a),
      |totals AS (SELECT alpha, SUM(w) AS tw FROM graded GROUP BY 1),
      |terms AS (
      |  SELECT g.alpha, g.rk, g.v, g.w, t.tw,
      |    CAST(round(-(g.w::DOUBLE / t.tw::DOUBLE)
      |      * log2(g.w::DOUBLE / t.tw::DOUBLE), 9) AS DECIMAL(22,9))
      |      AS ent_term
      |  FROM graded g JOIN totals t ON g.alpha = t.alpha)
      |SELECT alpha, COUNT(*) AS vocab,
      |  round(CAST(SUM(ent_term) AS DOUBLE), 6) + 0.0 AS entropy_bits,
      |  round(pow(2.0, round(CAST(SUM(ent_term) AS DOUBLE), 6)), 6)
      |    + 0.0 AS effective_vocab,
      |  round(CAST(SUM(CASE WHEN rk <= (v + 9) // 10 THEN w
      |    ELSE CAST(0 AS DECIMAL(24,9)) END) AS DOUBLE)
      |    / CAST(MAX(tw) AS DOUBLE), 6) + 0.0 AS top_decile_mass,
      |  round(CAST(SUM(CASE WHEN rk > v // 2 THEN w
      |    ELSE CAST(0 AS DECIMAL(24,9)) END) AS DOUBLE)
      |    / CAST(MAX(tw) AS DOUBLE), 6) + 0.0 AS bottom_half_mass
      |FROM terms GROUP BY alpha ORDER BY alpha""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q418_neg_sampling", q418NegSampling _, q418Sql),
    Query("q372_good_turing", q372GoodTuring _, q372Sql),
    Query("q326_jarque_bera", q326JarqueBera _, q326Sql),
    Query("q298_chao1_vocab", q298Chao1Vocab _, q298Sql),
    Query("q265_yule_diversity", q265YuleDiversity _, q265Sql),
    Query("q112_pmi_collocations", q112PmiCollocations _, q112Sql),
    Query("q114_lang_overlap", q114LangOverlap _, q114Sql),
    Query("q115_zipf_fit", q115ZipfFit _, q115Sql),
    Query("q147_heaps_fit", q147HeapsFit _, q147Sql),
    Query("q184_vocab_richness", q184VocabRichness _, q184Sql),
    Query("q205_term_burstiness", q205TermBurstiness _, q205Sql),
    Query("q228_token_gini", q228TokenGini _, q228Sql),
    Query("q232_distinctive_terms", q232DistinctiveTerms _, q232Sql),
    Query("q233_countmin_cert", q233CountMinCert _, q233Sql),
    Query("q242_vocab_sizing", q242VocabSizing _, q242Sql),
    Query("q243_skipgram_pmi", q243SkipgramPmi _, q243Sql))

  // --------------------------------------------------------------- q243
  /** Skip-gram PMI associations within a ±3 word window: q112 measures
    * ADJACENT collocations ("new york"); widening the window to skip
    * distances 1–3 surfaces looser ASSOCIATIONS ("query … engine") —
    * the co-occurrence statistic word-vector training actually
    * consumes. Ordered pairs at each distance d ∈ {1,2,3}, pooled, with
    * q112's exact-count PMI and the same ≥5-count floor.
    *
    * Exactness: the three shifted zips are deterministic array
    * arithmetic; counts exact; PMI is one double expression, 9 dp,
    * −0.0-guarded; top-30 ordering is total.
    *
    * Scale shape: 3 shifted-zip explodes in ONE projection (3× the
    * q112 pair volume, still linear) → one checkpointed pair census →
    * marginals and N as census rollups — q112's plan, wider window. */
  def q243SkipgramPmi(spark: SparkSession, dir: String): DataFrame = {
    val d = Kpis.table(spark, dir, "documents")
      .select(tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) >= 2)
    def shifted(k: Int) = zip_with(
      slice(col("toks"), lit(1), size(col("toks")) - k),
      slice(col("toks"), lit(1 + k), size(col("toks")) - k),
      (x, y) => struct(x.as("w1"), y.as("w2")))
    val pairs = d
      .filter(size(col("toks")) >= 2)
      .select(explode(concat(
        shifted(1),
        when(size(col("toks")) >= 3, shifted(2))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")),
        when(size(col("toks")) >= 4, shifted(3))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val cab = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_ab"))
      .localCheckpoint()
    val ca = cab.groupBy(col("w1")).agg(sum(col("c_ab")).as("c_a"))
    val cb = cab.groupBy(col("w2")).agg(sum(col("c_ab")).as("c_b"))
    val n = cab.agg(sum(col("c_ab")).as("n_pairs"))
    cab.filter(col("c_ab") >= 5)
      .join(ca, "w1")
      .join(cb, "w2")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c_ab"),
        (round(log(
          (col("c_ab").cast("double") * col("n_pairs").cast("double")) /
            (col("c_a").cast("double") * col("c_b").cast("double"))), 9)
          + lit(0.0)).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(30)
  }

  val q243Sql: String =
    """WITH d AS (
      |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |d2 AS (SELECT * FROM d WHERE len(toks) >= 2),
      |pos AS (
      |  SELECT toks, k,
      |    unnest(generate_series(1, len(toks) - k)) AS i
      |  FROM d2, (SELECT unnest([1, 2, 3]) AS k) ks
      |  WHERE len(toks) > k),
      |pairs AS (SELECT toks[i] AS w1, toks[i + k] AS w2 FROM pos),
      |cab AS MATERIALIZED (
      |  SELECT w1, w2, COUNT(*) AS c_ab FROM pairs GROUP BY 1, 2),
      |ca AS (SELECT w1, CAST(SUM(c_ab) AS BIGINT) AS c_a
      |       FROM cab GROUP BY 1),
      |cb AS (SELECT w2, CAST(SUM(c_ab) AS BIGINT) AS c_b
      |       FROM cab GROUP BY 1),
      |n AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_pairs FROM cab)
      |SELECT w1, w2, c_ab,
      |  round(ln((CAST(c_ab AS DOUBLE) * CAST(n_pairs AS DOUBLE))
      |           / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))), 9)
      |    + 0.0 AS pmi
      |FROM cab
      |JOIN ca USING (w1)
      |JOIN cb USING (w2)
      |CROSS JOIN n
      |WHERE c_ab >= 5
      |ORDER BY pmi DESC, w1, w2
      |LIMIT 30""".stripMargin

  // --------------------------------------------------------------- q242
  /** Tokenizer vocabulary sizing: what share of corpus token MASS do
    * the k most frequent types cover, for k ∈ {100, 1000, 10000}? The
    * planning table behind choosing a vocab size — the complement of
    * q217 (held-out OOV for a FIXED vocab) and q97 (top-50 coverage
    * detail): the k where coverage plateaus is where a larger vocab
    * stops paying for its embedding rows.
    *
    * Exactness: ranks are exact global ranks (freq desc, token) from
    * RangeRank; covered mass per k is a conditional exact sum (rank ≤ k
    * — no cumulative window at all); shares are single double
    * divisions.
    *
    * Scale shape: token census (hash agg) →
    * [[graft.operators.RangeRank.withGlobalRank]] over the census →
    * ONE conditional-sum aggregate for all three k at once. */
  def q242VocabSizing(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val ks = Seq(100, 1000, 10000)
    val census = spark.read.parquet(s"$dir/documents.parquet")
      .filter(length(trim(col("text"))) > 0)
      .select(explode(tokens(lower(col("text")))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val ranked = graft.operators.RangeRank
      .withGlobalRank(census, "rk", Seq(col("cnt").desc, col("token")))
    val aggs =
      Seq(count(lit(1)).as("vocab"), sum(col("cnt")).as("tot")) ++
        ks.map(k => sum(when(col("rk") <= k, col("cnt")).otherwise(0L))
          .as(s"cov$k"))
    val wide = ranked.agg(aggs.head, aggs.tail: _*)
    ks.map { k =>
      wide.select(lit(k).as("vocab_size"), col("vocab").as("corpus_vocab"),
        col(s"cov$k").as("covered_tokens"),
        (round(col(s"cov$k").cast("double") / col("tot").cast("double"),
          6) + lit(0.0)).as("coverage"))
    }.reduce(_ unionAll _).orderBy("vocab_size")
  }

  val q242Sql: String =
    """WITH tok AS (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
      |    AS token
      |  FROM documents WHERE length(trim(text)) > 0),
      |census AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
      |r AS (
      |  SELECT cnt, CAST(row_number() OVER (ORDER BY cnt DESC, token)
      |    AS BIGINT) AS rk
      |  FROM census),
      |s AS (
      |  SELECT COUNT(*) AS corpus_vocab, CAST(SUM(cnt) AS BIGINT) AS tot,
      |    CAST(SUM(CASE WHEN rk <= 100 THEN cnt ELSE 0 END) AS BIGINT)
      |      AS cov100,
      |    CAST(SUM(CASE WHEN rk <= 1000 THEN cnt ELSE 0 END) AS BIGINT)
      |      AS cov1000,
      |    CAST(SUM(CASE WHEN rk <= 10000 THEN cnt ELSE 0 END) AS BIGINT)
      |      AS cov10000
      |  FROM r),
      |u AS (
      |  SELECT 100 AS vocab_size, corpus_vocab, cov100 AS covered_tokens,
      |    tot FROM s
      |  UNION ALL SELECT 1000, corpus_vocab, cov1000, tot FROM s
      |  UNION ALL SELECT 10000, corpus_vocab, cov10000, tot FROM s)
      |SELECT vocab_size, corpus_vocab, covered_tokens,
      |  round(CAST(covered_tokens AS DOUBLE) / CAST(tot AS DOUBLE), 6)
      |    + 0.0 AS coverage
      |FROM u ORDER BY vocab_size""".stripMargin

  // --------------------------------------------------------------- q233
  /** Count-Min sketch certification: build a d=4 × w=1024 CMS over the
    * token stream with md5-derived row hashes (cross-engine
    * replayable, the q22/q27 discipline), then compare the sketch
    * estimate min_i cells[i][h_i(token)] against the EXACT count for
    * the 20 highest-frequency tokens. CMS never underestimates; the
    * output shows each heavy hitter's overestimate and its share of
    * the ε·N = N/w theoretical bound — the calibration a pipeline
    * checks before trusting sketch counts at 100 TB (where the exact
    * census this query affords at fixture scale is the thing being
    * replaced).
    *
    * Exactness: every cell and estimate is an exact integer; one
    * double division for the bound share.
    *
    * Scale shape: token census (hash agg) → 4-way hash explode →
    * (row, cell) agg (4·1024 cells regardless of corpus size) → the
    * top-20 probe joins the 4 relevant cells per token (broadcast:
    * the cell table is KB-scale). */
  def q233CountMinCert(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{md5Hash60, tokens}
    val census = spark.read.parquet(s"$dir/documents.parquet")
      .filter(length(trim(col("text"))) > 0)
      .select(explode(tokens(lower(col("text")))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val hashed = census.select(col("token"), col("cnt"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("i"),
          pmod(md5Hash60(concat(lit(s"cms:$i:"), col("token"))), lit(1024L))
            .as("cell"))): _*)).as("h"))
      .select(col("token"), col("cnt"), col("h.i").as("i"),
        col("h.cell").as("cell"))
    val cells = hashed.groupBy(col("i"), col("cell"))
      .agg(sum(col("cnt")).as("cell_sum"))
    val tot = census.agg(sum(col("cnt")).as("n"))
    val top = census.orderBy(desc("cnt"), asc("token")).limit(20)
    top
      .join(hashed.select(col("token").as("ht"), col("i"), col("cell")),
        col("token") === col("ht"))
      .join(broadcast(cells), Seq("i", "cell"))
      .groupBy(col("token"), col("cnt"))
      .agg(min(col("cell_sum")).as("cms_est"))
      .crossJoin(broadcast(tot))
      .select(col("token"), col("cnt").as("true_cnt"), col("cms_est"),
        (col("cms_est") - col("cnt")).as("overestimate"),
        (round((col("cms_est") - col("cnt")).cast("double") /
          (col("n").cast("double") / lit(1024.0)), 6) + lit(0.0))
          .as("bound_share"))
      .orderBy(desc("true_cnt"), asc("token"))
  }

  val q233Sql: String = {
    import graft.functions.TextFunctions.md5Hash60Sql
    val hashUnion = (0 until 4).map { i =>
      s"""SELECT token, cnt, $i AS i,
         |  ((${md5Hash60Sql(s"'cms:$i:' || token")}) % 1024 + 1024) % 1024
         |    AS cell
         |  FROM census""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH tok AS (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
      |    AS token
      |  FROM documents WHERE length(trim(text)) > 0),
      |census AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
      |hashed AS (
      |  $hashUnion),
      |cells AS (
      |  SELECT i, cell, CAST(SUM(cnt) AS BIGINT) AS cell_sum
      |  FROM hashed GROUP BY 1, 2),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM census),
      |top AS (
      |  SELECT token, cnt FROM census ORDER BY cnt DESC, token LIMIT 20),
      |est AS (
      |  SELECT t.token, t.cnt, MIN(c.cell_sum) AS cms_est
      |  FROM top t
      |  JOIN hashed h ON h.token = t.token
      |  JOIN cells c ON c.i = h.i AND c.cell = h.cell
      |  GROUP BY 1, 2)
      |SELECT token, cnt AS true_cnt, cms_est,
      |  cms_est - cnt AS overestimate,
      |  round(CAST(cms_est - cnt AS DOUBLE) /
      |    (CAST(n AS DOUBLE) / 1024.0), 6) + 0.0 AS bound_share
      |FROM est, tot ORDER BY true_cnt DESC, token""".stripMargin
  }

  // --------------------------------------------------------------- q232
  /** Distinctive terms of source src0 vs the rest of the corpus by
    * Dirichlet-smoothed log-odds z-scores (Monroe et al.'s "fightin'
    * words"): for each token, δ = log-odds(src0) − log-odds(rest) under
    * a +0.01 pseudo-count prior, z = δ/√(1/(y₁+α) + 1/(y₂+α)); top 15
    * by |z|. Token-level ATTRIBUTION of corpus drift — q140's KL says
    * THAT two sources differ, this says WHICH words carry it (and the
    * prior keeps rare-word z-scores from exploding, the failure mode of
    * raw log-odds).
    *
    * Exactness: per-token counts are exact; δ and z are single double
    * expressions over them (totals broadcast); top-15 is deterministic
    * (|z| desc, token asc).
    *
    * Scale shape: one tokenize pass → (token, side) census → broadcast
    * totals → per-token map math; top-15 lowers to
    * TakeOrderedAndProject. */
  def q232DistinctiveTerms(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val a = 0.01
    val tok = spark.read.parquet(s"$dir/documents.parquet")
      .filter(length(trim(col("text"))) > 0)
      .select((col("source") === "src0").as("side"),
        explode(tokens(lower(col("text")))).as("token"))
    val census = tok.groupBy(col("token"))
      .agg(
        sum(when(col("side"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("side"), 1L).otherwise(0L)).as("c2"))
    val tot = census.agg(
      count(lit(1)).as("v"), sum(col("c1")).as("n1"),
      sum(col("c2")).as("n2"))
    def lo(y: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column,
        v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      log((y.cast("double") + lit(a)) /
        (n.cast("double") + lit(a) * v.cast("double") -
          y.cast("double") - lit(a)))
    census.crossJoin(broadcast(tot))
      .withColumn("z", round(
        (lo(col("c1"), col("n1"), col("v")) -
          lo(col("c2"), col("n2"), col("v"))) /
          sqrt(lit(1.0) / (col("c1").cast("double") + lit(a)) +
            lit(1.0) / (col("c2").cast("double") + lit(a))), 6) + lit(0.0))
      .select(col("token"), col("c1"), col("c2"), col("z"))
      .orderBy(abs(col("z")).desc, col("token"))
      .limit(15)
  }

  val q232Sql: String =
    """WITH tok AS (
      |  SELECT source = 'src0' AS side,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM documents WHERE length(trim(text)) > 0),
      |census AS (
      |  SELECT token,
      |    CAST(SUM(CASE WHEN side THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(SUM(CASE WHEN side THEN 0 ELSE 1 END) AS BIGINT) AS c2
      |  FROM tok GROUP BY 1),
      |tot AS (
      |  SELECT COUNT(*) AS v, CAST(SUM(c1) AS BIGINT) AS n1,
      |    CAST(SUM(c2) AS BIGINT) AS n2
      |  FROM census),
      |z AS (
      |  SELECT token, c1, c2,
      |    round(
      |      (ln((CAST(c1 AS DOUBLE) + 0.01) /
      |          (CAST(n1 AS DOUBLE) + 0.01 * CAST(v AS DOUBLE) -
      |           CAST(c1 AS DOUBLE) - 0.01)) -
      |       ln((CAST(c2 AS DOUBLE) + 0.01) /
      |          (CAST(n2 AS DOUBLE) + 0.01 * CAST(v AS DOUBLE) -
      |           CAST(c2 AS DOUBLE) - 0.01))) /
      |      sqrt(1.0 / (CAST(c1 AS DOUBLE) + 0.01) +
      |           1.0 / (CAST(c2 AS DOUBLE) + 0.01)), 6) + 0.0 AS z
      |  FROM census, tot)
      |SELECT token, c1, c2, z
      |FROM z ORDER BY abs(z) DESC, token LIMIT 15""".stripMargin

  // --------------------------------------------------------------- q228
  /** Gini coefficient of the token-frequency distribution: how
    * concentrated is the corpus's token mass? G ≈ 0 means every type
    * carries equal weight; G → 1 means a few function words dominate —
    * the single-number companion to q115's Zipf slope and q184's
    * hapax/TTR, and the metric dedup/diversity work moves.
    *
    * Exactness: G = (2·Σᵢ i·xᵢ)/(V·Σx) − (V+1)/V over frequencies
    * sorted ascending (rank ties carry equal x, so the formula is
    * tie-order invariant); Σ i·xᵢ is an exact DECIMAL sum of 19-digit
    * cast products; one double expression at the end.
    *
    * Scale shape: explode → vocab census (hash agg); ranks come from
    * [[graft.operators.RangeRank.withGlobalRank]] over the census —
    * vocabulary can exceed any single partition at corpus scale, so no
    * census-ordered global window (the oracle spells the one-window
    * form; bit-identical). */
  def q228TokenGini(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val census = spark.read.parquet(s"$dir/documents.parquet")
      .filter(length(trim(col("text"))) > 0)
      .select(explode(tokens(lower(col("text")))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    graft.operators.RangeRank
      .withGlobalRank(census, "rk", Seq(col("cnt"), col("token")))
      .agg(
        count(lit(1)).as("vocab"),
        sum(col("cnt")).as("total_tokens"),
        sum(col("rk").cast("decimal(19,0)") *
          col("cnt").cast("decimal(19,0)")).as("srx"))
      .select(
        col("vocab"), col("total_tokens"),
        (round(
          lit(2.0) * col("srx").cast("double") /
            (col("vocab").cast("double") * col("total_tokens").cast("double")) -
            (col("vocab") + 1).cast("double") / col("vocab").cast("double"),
          6) + lit(0.0)).as("gini"))
  }

  val q228Sql: String =
    """WITH tok AS (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
      |    AS token
      |  FROM documents WHERE length(trim(text)) > 0),
      |census AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
      |r AS (
      |  SELECT cnt, CAST(row_number() OVER (ORDER BY cnt, token)
      |    AS BIGINT) AS rk
      |  FROM census),
      |s AS (
      |  SELECT COUNT(*) AS vocab, CAST(SUM(cnt) AS BIGINT) AS total_tokens,
      |    SUM(CAST(rk AS DECIMAL(19,0)) * CAST(cnt AS DECIMAL(19,0)))
      |      AS srx
      |  FROM r)
      |SELECT vocab, total_tokens,
      |  round(
      |    2.0 * CAST(srx AS DOUBLE) /
      |      (CAST(vocab AS DOUBLE) * CAST(total_tokens AS DOUBLE)) -
      |    CAST(vocab + 1 AS DOUBLE) / CAST(vocab AS DOUBLE), 6) + 0.0
      |    AS gini
      |FROM s""".stripMargin
}
