package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Query
import graft.functions.ExactMath.r6
import graft.functions.TextFunctions._

/** Text / dedup operators over the `documents` table (builder brief:
  * large-scale training-data pipeline ops — exact + near dedup, text
  * analysis, fingerprinting, language ID).
  *
  * The fixture corpus has no duplicate texts, so dup-detection entries run
  * over a corpus with DETERMINISTICALLY INJECTED duplicates (every 10th doc
  * cloned, exactly for q19 / perturbed with a 3-token tail for near-dup),
  * derived identically on the Spark and DuckDB sides.
  *
  * Scale posture: every dedup variant generates candidates through an
  * equi-join key (md5 fingerprint, MinHash band hash, SimHash chunk) — a
  * hash shuffle over the corpus, NEVER an all-pairs product. Text metrics
  * are per-row codegen'd expressions that run at scan speed.
  */
object DocQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Kpis.table(spark, dir, "documents")

  /** documents ∪ exact clones of every 10th doc (ids offset +100000). */
  def corpusWithExactDups(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    d.unionAll(d.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 100000))
  }

  private[queries] val corpusDupSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** documents ∪ near-clones (3 appended tokens) of every 10th doc. */
  def corpusWithNearDups(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    d.unionAll(d.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 100000)
      .withColumn("text", concat(col("text"), lit(" zz extra tail"))))
  }

  private[queries] val corpusNearDupSql =
    """SELECT doc_id, text, lang FROM documents
      |UNION ALL
      |SELECT doc_id + 100000 AS doc_id, text || ' zz extra tail' AS text, lang
      |FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** DuckDB replay of the MinHash near-dup pipeline over corpus CTE
    * `corpusCte` (doc_id, text): shingles → md5-60-bit base hash →
    * 16 mod-(2^61-1) permutation minima (constants embedded as literals
    * from [[org.apache.spark.sql.graft.MinHashP61]]) → 8 bands × 2 rows →
    * band self-join → exact-Jaccard pairs. Emits CTEs ending in `pairs`
    * (a_id, b_id, jaccard); the caller filters/sorts. Shared by the q22 and
    * q42 oracles so the signature arithmetic has exactly one SQL spelling. */
  private[graft] def minhashPairsSqlFragment(corpusCte: String): String = {
    val P = org.apache.spark.sql.graft.MinHashP61.P
    val sigCols = (0 until 16).map { j =>
      val a = org.apache.spark.sql.graft.MinHashP61.a(j)
      val b = org.apache.spark.sql.graft.MinHashP61.b(j)
      s"MIN((h * ${a}::HUGEINT + $b) % $P)::BIGINT AS s$j"
    }.mkString(",\n    ")
    val bandSelects = (0 until 8).map { bd =>
      s"SELECT doc_id, $bd AS band, s${2 * bd}::VARCHAR || ',' || s${2 * bd + 1}::VARCHAR AS bh FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM $corpusCte),
       |shg AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |         ELSE list_transform(range(1, len(toks) - 1),
       |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh
       |  FROM tk),
       |hs AS (SELECT doc_id, ${md5Hash60Sql("s")} AS h
       |       FROM (SELECT doc_id, unnest(sh) AS s FROM shg)),
       |sig AS (SELECT doc_id,
       |    $sigCols
       |  FROM hs GROUP BY doc_id),
       |banded AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       |pairs AS (
       |  SELECT c.a_id, c.b_id,
       |    CAST(len(list_intersect(list_distinct(sa.sh), list_distinct(sb.sh))) AS DOUBLE)
       |      / (len(list_distinct(sa.sh)) + len(list_distinct(sb.sh))
       |         - len(list_intersect(list_distinct(sa.sh), list_distinct(sb.sh)))) AS jaccard
       |  FROM cand c
       |  JOIN shg sa ON c.a_id = sa.doc_id
       |  JOIN shg sb ON c.b_id = sb.doc_id)""".stripMargin
  }

  // ---------------------------------------------------------------- q19
  /** Exact-duplicate groups by canonical-text fingerprint: hash-groupBy on
    * md5(normalized text) — one shuffle keyed by a 128-bit digest, the
    * standard exact-dedup at any scale. */
  def q19ExactDupDocs(spark: SparkSession, dir: String): DataFrame =
    corpusWithExactDups(spark, dir)
      .withColumn("fp", fingerprint(col("text")))
      .groupBy("fp")
      .agg(
        count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("first_id"),
        max(col("doc_id")).as("last_id"))
      .filter(col("n_copies") > 1)
      .orderBy("fp")

  val q19Sql: String =
    s"""WITH corpus AS ($corpusDupSql)
      |SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
      |  COUNT(*) AS n_copies, MIN(doc_id) AS first_id, MAX(doc_id) AS last_id
      |FROM corpus GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY fp""".stripMargin

  // ---------------------------------------------------------------- q20
  /** Corpus statistics by language: doc/token/char counts — the profiling
    * pass every training-data pipeline starts with. */
  def q20TextStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("total_chars"),
        sum(tokenCount(col("text"))).as("total_tokens"),
        (sum(tokenCount(col("text"))).cast("double") / count(lit(1)))
          .as("avg_tokens"),
        min(length(col("text"))).as("min_chars"),
        max(length(col("text"))).as("max_chars"))
      .orderBy("lang")

  val q20Sql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
      |  CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
      |               ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS total_tokens,
      |  CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
      |               ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS DOUBLE) / COUNT(*) AS avg_tokens,
      |  CAST(MIN(length(text)) AS INTEGER) AS min_chars,
      |  CAST(MAX(length(text)) AS INTEGER) AS max_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q22
  /** MinHash+LSH near-duplicate pairs, fully oracle-checked: the signature
    * is built from md5-derived 60-bit base hashes under mod-(2^61-1)
    * universal-hash permutations, which DuckDB replays exactly in HUGEINT
    * arithmetic ([[minhashPairsSqlFragment]]). Pipeline: word-3-gram
    * shingles → 16-element MinHash signature → 8 bands × 2 rows → explode
    * bands → self-equi-join on (band, band_key) → exact Jaccard ≥ 0.5
    * verification. The join key makes candidate generation a hash shuffle;
    * the all-pairs product never materializes. Banding is the recall/cost
    * knob: 8×2 gives P(candidate) = 1-(1-J²)⁸ ≈ 0.999 at J=0.75 (4×4
    * missed a J≈0.73 clone); the extra false candidates are discarded by
    * the exact-Jaccard verification step. */
  def q22NearDupMinhash(spark: SparkSession, dir: String): DataFrame = {
    // Single-file fixture → single split; spread the per-doc signature
    // computation across cores (hash-partition on the stable key so the
    // plan stays deterministic). No-op-sized shuffle at fixture scale;
    // at 100 TB the scan supplies the partitioning.
    val par = spark.sparkContext.defaultParallelism
    val base = corpusWithNearDups(spark, dir)
      .repartition(par, col("doc_id"))
      .withColumn("toks", tokens(col("text")))
      .withColumn("sh", shingles(col("toks"), 3))
      .withColumn("sig", minhashSignature(col("sh"), 16))
    val banded = base
      .select(col("doc_id"), col("sh"),
        explode(minhashBands(col("sig"), 8, 2)).as("b"))
      .select(col("doc_id"), col("sh"),
        col("b.band").as("band"), col("b.band_hash").as("band_hash"))
    val a = banded.select(col("band"), col("band_hash"),
      col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = banded.select(col("band"), col("band_hash"),
      col("doc_id").as("b_id"), col("sh").as("b_sh"))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        jaccard(col("a_sh"), col("b_sh")).as("jaccard"))
      .distinct()
      .filter(col("jaccard") >= 0.5)
      .orderBy("a_id", "b_id")
  }

  val q22Sql: String =
    s"""WITH corpus AS ($corpusNearDupSql),
       |${minhashPairsSqlFragment("corpus")}
       |SELECT a_id, b_id, jaccard FROM pairs
       |WHERE jaccard >= 0.5 ORDER BY a_id, b_id""".stripMargin

  // --------------------------------------------------------------- q389
  /** MinHash signature-length calibration — the SIGNATURE-side study
    * completing q281's banding calibration: q281 fixes k = 16 and
    * sweeps band shapes; this sweeps k ∈ {8, 16, 32} (prefixes of ONE
    * 32-permutation family, so longer signatures reuse the shorter
    * ones' minima) and measures, over the registered operating point's
    * own surfaced candidate pairs, how far the signature-agreement
    * estimate sits from exact Jaccard: bias, mean |error|, and worst
    * case. The estimator's σ = √(J(1−J)/k) halves per 4× k — this
    * emits the measured curve so "16 hashes" is a chosen point on it,
    * not folklore.
    *
    * Exactness: match counts are integers (prefix agreement of exact
    * signature minima); each per-pair error is est − true with both
    * operands single divisions of exact integers, snapped at 9 dp into
    * DECIMAL(22,9) terms (the q179 discipline) so the per-k means are
    * order-free; emitted stats snap at 6 dp.
    *
    * Scale shape: q22's measured-linear candidate stack (skinny band
    * join, id-level dedup, fetch-back by id); the 3-k sweep is an
    * expression-level explode ×3 over the candidate census — adding a
    * k is one more array slice, never another corpus pass. */
  def q389SigLengthCalibration(spark: SparkSession, dir: String)
      : DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    val base = corpusWithNearDups(spark, dir)
      .repartition(par, col("doc_id"))
      .withColumn("toks", tokens(col("text")))
      .withColumn("sh", shingles(col("toks"), 3))
      .withColumn("sig", minhashSignature(col("sh"), 32))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val banded = base
      .select(col("doc_id"),
        explode(minhashBands(slice(col("sig"), 1, 16), 8, 2)).as("b"))
      .select(col("doc_id"),
        col("b.band").as("band"), col("b.band_hash").as("band_hash"))
    val candIds = banded.select(col("band"), col("band_hash"),
        col("doc_id").as("a_id"))
      .join(banded.select(col("band"), col("band_hash"),
        col("doc_id").as("b_id")), Seq("band", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    val sa = base.select(col("doc_id").as("a_id"), col("sh").as("a_sh"),
      col("sig").as("a_sig"))
    val sb = base.select(col("doc_id").as("b_id"), col("sh").as("b_sh"),
      col("sig").as("b_sig"))
    def matches(k: Int) = expr(
      s"size(filter(zip_with(slice(a_sig, 1, $k), slice(b_sig, 1, $k), " +
        s"(x, y) -> x = y), z -> z))")
    val scored = candIds.join(sa, "a_id").join(sb, "b_id")
      .select(jaccard(col("a_sh"), col("b_sh")).as("tj"),
        explode(array(
          struct(lit(8L).as("k"), matches(8).as("m")),
          struct(lit(16L).as("k"), matches(16).as("m")),
          struct(lit(32L).as("k"), matches(32).as("m")))).as("e"))
      .select(col("e.k").as("k"),
        (col("e.m").cast("double") / col("e.k").cast("double") - col("tj"))
          .as("err"))
    val out = graft.plans.Eager.ckpt(
      scored.groupBy(col("k"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(round(col("err"), 9).cast("decimal(22,9)")).as("se"),
          sum(round(abs(col("err")), 9).cast("decimal(22,9)")).as("sae"),
          max(abs(col("err"))).as("mx"))
        .select(col("k"), col("n_pairs"),
          (round(col("se").cast("double") / col("n_pairs").cast("double"),
            6) + lit(0.0)).as("mean_err"),
          (round(col("sae").cast("double") / col("n_pairs").cast("double"),
            6) + lit(0.0)).as("mean_abs_err"),
          (round(col("mx"), 6) + lit(0.0)).as("max_abs_err"))
        .orderBy("k"))
    base.unpersist()
    out
  }

  val q389Sql: String = {
    val P = org.apache.spark.sql.graft.MinHashP61.P
    val sigCols = (0 until 32).map { j =>
      val a = org.apache.spark.sql.graft.MinHashP61.a(j)
      val b = org.apache.spark.sql.graft.MinHashP61.b(j)
      s"MIN((h * ${a}::HUGEINT + $b) % $P)::BIGINT AS s$j"
    }.mkString(",\n      |    ")
    val bandSelects = (0 until 8).map { bd =>
      s"SELECT doc_id, $bd AS band, s${2 * bd}::VARCHAR || ',' || " +
        s"s${2 * bd + 1}::VARCHAR AS bh FROM sig"
    }.mkString("\n      |  UNION ALL ")
    def m(k: Int) = (0 until k).map(j =>
      s"CASE WHEN a.s$j = b.s$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH corpus AS ($corpusNearDupSql),
      |tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+')
      |       AS toks FROM corpus),
      |shg AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks) - 1),
      |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |    END AS sh
      |  FROM tk),
      |hs AS (SELECT doc_id, ${md5Hash60Sql("s")} AS h
      |       FROM (SELECT doc_id, unnest(sh) AS s FROM shg)),
      |sig AS (SELECT doc_id,
      |    $sigCols
      |  FROM hs GROUP BY doc_id),
      |banded AS (
      |  $bandSelects),
      |cand AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
      |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
      |pj AS (
      |  SELECT c.a_id, c.b_id,
      |    CAST(len(list_intersect(list_distinct(sa.sh),
      |        list_distinct(sb.sh))) AS DOUBLE)
      |      / (len(list_distinct(sa.sh)) + len(list_distinct(sb.sh))
      |         - len(list_intersect(list_distinct(sa.sh),
      |             list_distinct(sb.sh)))) AS tj
      |  FROM cand c
      |  JOIN shg sa ON c.a_id = sa.doc_id
      |  JOIN shg sb ON c.b_id = sb.doc_id),
      |ms AS (
      |  SELECT pj.tj,
      |    ${m(8)} AS m8,
      |    ${m(16)} AS m16,
      |    ${m(32)} AS m32
      |  FROM pj
      |  JOIN sig a ON pj.a_id = a.doc_id
      |  JOIN sig b ON pj.b_id = b.doc_id),
      |u AS (
      |  SELECT CAST(8 AS BIGINT) AS k,
      |    CAST(m8 AS DOUBLE) / 8.0 - tj AS err FROM ms
      |  UNION ALL SELECT 16, CAST(m16 AS DOUBLE) / 16.0 - tj FROM ms
      |  UNION ALL SELECT 32, CAST(m32 AS DOUBLE) / 32.0 - tj FROM ms)
      |SELECT k, COUNT(*) AS n_pairs,
      |  round(CAST(SUM(CAST(round(err, 9) AS DECIMAL(22,9))) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS mean_err,
      |  round(CAST(SUM(CAST(round(abs(err), 9) AS DECIMAL(22,9)))
      |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) + 0.0
      |    AS mean_abs_err,
      |  round(MAX(abs(err)), 6) + 0.0 AS max_abs_err
      |FROM u GROUP BY k ORDER BY k""".stripMargin
  }

  // ---------------------------------------------------------------- q23
  /** Per-document quality scoring: token/char counts, stopword ratio,
    * average token length, and a bounded composite score — the
    * quality-filter features of a pretraining data pipeline. */
  def q23DocQuality(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        length(col("text")).as("n_chars"),
        size(filter(col("toks"), t => t.isin("the", "a"))).as("n_stop"))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("avg_token_len",
        (col("n_chars").cast("double") - (col("n_tokens") - lit(1)))
          / col("n_tokens"))
      .withColumn("quality",
        least(lit(1.0), col("n_tokens").cast("double") / 100.0) * 0.4
          + (lit(1.0) - col("stop_ratio")) * 0.3
          + least(lit(1.0), col("n_chars").cast("double") / 500.0) * 0.3)
      .orderBy("doc_id")

  val q23Sql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INTEGER) AS n_tokens,
      |    CAST(length(text) AS INTEGER) AS n_chars,
      |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                              t -> t IN ('the', 'a'))) END AS INTEGER) AS n_stop
      |  FROM documents)
      |SELECT doc_id, n_tokens, n_chars, n_stop,
      |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
      |  (CAST(n_chars AS DOUBLE) - (n_tokens - 1)) / n_tokens AS avg_token_len,
      |  least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.4
      |    + (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
      |    + least(1.0, CAST(n_chars AS DOUBLE) / 500.0) * 0.3 AS quality
      |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q24
  /** Heuristic language ID (stopword-ratio vote) against the labeled `lang`
    * column — emitted as a confusion summary. The fixture vocabulary is
    * language-independent so the heuristic mostly predicts by stopword
    * density; the operator (per-row classify → confusion rollup) is the
    * point, and it is deterministic and oracle-checked. */
  def q24LangId(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .withColumn("en_ratio",
        size(filter(col("toks"), t => t.isin("the", "a"))).cast("double")
          / size(col("toks")))
      .withColumn("predicted",
        when(col("en_ratio") >= 0.04, lit("en")).otherwise(lit("und")))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "predicted")

  val q24Sql: String =
    """WITH p AS (
      |  SELECT lang,
      |    CASE WHEN CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                                   t -> t IN ('the', 'a'))) AS DOUBLE)
      |              / len(regexp_split_to_array(trim(text), '\s+')) >= 0.04
      |         THEN 'en' ELSE 'und' END AS predicted
      |  FROM documents)
      |SELECT lang, predicted, COUNT(*) AS n_docs
      |FROM p GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin

  // ---------------------------------------------------------------- q25
  /** Canonical document fingerprints: md5 of whitespace-normalized
    * lowercased text + basic size metrics — the cross-system document
    * identity used for exact dedup and incremental re-crawl diffing. */
  def q25Fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(
        col("doc_id"),
        fingerprint(col("text")).as("fp"),
        tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("n_chars"))
      .orderBy("doc_id")

  val q25Sql: String =
    """SELECT doc_id,
      |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
      |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INTEGER) AS n_tokens,
      |  CAST(length(text) AS INTEGER) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q27
  /** SimHash near-dup pairs, fully oracle-checked: token hashes are
    * md5-derived 60-bit values, so DuckDB replays the per-bit majority vote
    * (bits 0-59; bits 60-63 are structurally zero) and the chunk join
    * exactly. 64-bit SimHash → 4 × 16-bit chunks → equi-join on chunk value
    * (pigeonhole-complete for Hamming distance < 4, high-recall candidates
    * beyond) → exact Hamming ≤ 4 verification. (The fixture's 31-word
    * vocabulary makes unrelated docs unusually simhash-close; ≤4 keeps
    * noise out while catching the injected near-clones.) */
  def q27SimhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    // Same single-split spread as q22: the 64×|tokens| SimHash expression
    // is the compute-bound stage and must parallelize.
    val par = spark.sparkContext.defaultParallelism
    val base = corpusWithNearDups(spark, dir)
      .repartition(par, col("doc_id"))
      .withColumn("toks", tokens(col("text")))
      .withColumn("hs", tokenHashes(col("toks")))
      .withColumn("sh64", simhash(col("hs")))
    val chunked = base
      .select(col("doc_id"), col("sh64"),
        explode(simhashChunks("sh64", 4)).as("c"))
      .select(col("doc_id"), col("sh64"),
        col("c.chunk").as("chunk"), col("c.chunk_val").as("chunk_val"))
    val a = chunked.select(col("chunk"), col("chunk_val"),
      col("doc_id").as("a_id"), col("sh64").as("a_h"))
    val b = chunked.select(col("chunk"), col("chunk_val"),
      col("doc_id").as("b_id"), col("sh64").as("b_h"))
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        hamming(col("a_h"), col("b_h")).as("hamming_dist"))
      .distinct()
      .filter(col("hamming_dist") <= 4)
      .orderBy("a_id", "b_id")
  }

  val q27Sql: String =
    s"""WITH corpus AS ($corpusNearDupSql),
       |tk AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
       |       FROM corpus WHERE length(trim(text)) > 0),
       |hs AS (SELECT doc_id, ${md5Hash60Sql("t")} AS h FROM tk),
       |bits AS (
       |  SELECT doc_id, bs.b, SUM((h >> bs.b) & 1) AS cnt, COUNT(*) AS n
       |  FROM hs CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bs
       |  GROUP BY doc_id, bs.b),
       |sig AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN 2 * cnt > n THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS h64
       |  FROM bits GROUP BY doc_id
       |  UNION ALL
       |  -- mirror Spark: tokens('') = [] so an empty/whitespace-only doc
       |  -- gets signature 0 (regexp_split_to_array('') would yield [''])
       |  SELECT doc_id, 0::BIGINT AS h64
       |  FROM corpus WHERE length(trim(text)) = 0),
       |chunked AS (
       |  SELECT doc_id, cs.c AS chunk, (h64 >> (cs.c * 16)) & 65535 AS cv
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS c) cs),
       |cand AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM chunked a JOIN chunked b ON a.chunk = b.chunk AND a.cv = b.cv
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT c.a_id, c.b_id,
       |  CAST(bit_count(xor(sa.h64, sb.h64)) AS INTEGER) AS hamming_dist
       |FROM cand c
       |JOIN sig sa ON c.a_id = sa.doc_id
       |JOIN sig sb ON c.b_id = sb.doc_id
       |WHERE bit_count(xor(sa.h64, sb.h64)) <= 4
       |ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------------------------------- q31
  /** Token analysis with two tokenizers per source: whitespace tokens and a
    * BPE-ish pre-tokenizer regex (`[a-z0-9]+|[^a-z0-9\s]` — word runs plus
    * standalone punctuation, the coarse shape of a GPT-style pre-tokenizer).
    * The ratio between the two is a standard corpus-quality signal. ASCII
    * character classes behave identically in Java regex and DuckDB's RE2,
    * so the entry is oracle-checked. */
  def q31TokenAnalysis(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("ws_tokens", tokenCount(col("text")))
      .withColumn("bpe_tokens",
        expr("size(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\\\s]', 0))"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("total_ws_tokens"),
        sum(col("bpe_tokens")).as("total_bpe_tokens"),
        (sum(col("bpe_tokens")).cast("double") / sum(col("ws_tokens")))
          .as("bpe_per_ws"))
      .orderBy("source")

  val q31Sql: String =
    """WITH t AS (
      |  SELECT source,
      |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INTEGER) AS ws_tokens,
      |    CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]')) AS INTEGER) AS bpe_tokens
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
      |  CAST(SUM(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
      |  CAST(SUM(bpe_tokens) AS DOUBLE) / SUM(ws_tokens) AS bpe_per_ws
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q32
  /** Exact n-gram Jaccard similarity on known original/perturbed pairs —
    * the verification metric of the near-dup pipeline as its own
    * oracle-checked operator (q22's LSH produces candidates; this is the
    * measure applied to them, here on a deterministic pairing so DuckDB
    * can replay it with list_intersect/list_distinct). */
  def q32NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).filter(col("doc_id") % 10 === 0)
    val a = d.select(col("doc_id"),
      shingles(tokens(col("text")), 3).as("sa"))
    val b = d.select(col("doc_id"),
      shingles(tokens(concat(col("text"), lit(" zz extra tail"))), 3).as("sb"))
    a.join(b, "doc_id")
      .select(
        col("doc_id"),
        size(array_distinct(col("sa"))).as("n_shingles_orig"),
        size(array_distinct(col("sb"))).as("n_shingles_pert"),
        jaccard(col("sa"), col("sb")).as("jaccard"))
      .orderBy("doc_id")
  }

  val q32Sql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks,
      |    regexp_split_to_array(trim(text || ' zz extra tail'), '\s+') AS ptoks
      |  FROM documents WHERE doc_id % 10 = 0),
      |s AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks) - 1),
      |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sa,
      |    CASE WHEN len(ptoks) < 3 THEN [array_to_string(ptoks, ' ')]
      |         ELSE list_transform(range(1, len(ptoks) - 1),
      |                i -> ptoks[i] || ' ' || ptoks[i+1] || ' ' || ptoks[i+2]) END AS sb
      |  FROM d)
      |SELECT doc_id,
      |  CAST(len(list_distinct(sa)) AS INTEGER) AS n_shingles_orig,
      |  CAST(len(list_distinct(sb)) AS INTEGER) AS n_shingles_pert,
      |  CAST(len(list_intersect(list_distinct(sa), list_distinct(sb))) AS DOUBLE)
      |    / (len(list_distinct(sa)) + len(list_distinct(sb))
      |       - len(list_intersect(list_distinct(sa), list_distinct(sb)))) AS jaccard
      |FROM s ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q35
  /** Character-trigram language ID: per-language trigram profiles LEARNED
    * from the labeled corpus (top-64 trigrams by frequency, deterministic
    * count/trigram tiebreak), broadcast to a scoring join where each
    * document picks the language whose profile covers the largest fraction
    * of its distinct trigrams. Output is the (lang, predicted) confusion
    * rollup — oracle-checked: the whole train-then-classify pipeline
    * replays in DuckDB SQL with exact-decimal score means.
    *
    * Shape at scale: profile building is one hash-aggregate over exploded
    * trigrams + a WindowGroupLimit top-k per language (tiny result);
    * scoring is a broadcast join of that tiny profile table against the
    * corpus — no all-pairs, no driver loops. (The fixture corpus shares
    * one vocabulary across langs, so accuracy here is chance — the
    * operator, not the fixture, is what's under test.) */
  def q35LangIdNgram(spark: SparkSession, dir: String): DataFrame = {
    // single-file fixture → one split; spread the per-char trigram
    // extraction (the compute-bound stage, evaluated on both the profile
    // and scoring branches) across cores
    val par = spark.sparkContext.defaultParallelism
    // persist: the trigram table feeds BOTH the profile build and the
    // scoring branch — without it the extraction (the compute-bound
    // stage) runs twice; released after the (tiny) confusion rollup is
    // materialized (q42's persist-then-eager-output convention)
    val d = docs(spark, dir)
      .repartition(par, col("doc_id"))
      .withColumn("norm", normText(col("text")))
      .withColumn("tgs", charNgrams(col("norm"), 3))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // top-64 trigrams per language = the profile
    val wTop = Window.partitionBy(col("p_lang"))
      .orderBy(col("cnt").desc, col("tg"))
    val profiles = d
      .select(col("lang").as("p_lang"), explode(col("tgs")).as("tg"))
      .groupBy(col("p_lang"), col("tg"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("r", row_number().over(wTop))
      .filter(col("r") <= 64)
      .groupBy(col("p_lang"))
      .agg(collect_set(col("tg")).as("profile"))
    // score: fraction of the doc's distinct trigrams inside each profile
    val scored = d
      .select(col("doc_id"), col("lang"),
        array_distinct(col("tgs")).as("dtgs"))
      .crossJoin(broadcast(profiles))
      .withColumn("score",
        size(array_intersect(col("dtgs"), col("profile"))).cast("double")
          / size(col("dtgs")))
    val wBest = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("p_lang"))
    val out = scored
      .withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .groupBy(col("lang"), col("p_lang").as("predicted"))
      .agg(count(lit(1)).as("n_docs"),
        // per-doc scores are bit-identical doubles on both engines (same
        // int/int division); summing through decimal makes the group
        // aggregate order-independent, so the mean is oracle-exact
        (sum(col("score").cast("decimal(18,12)")).cast("double")
          / count(lit(1))).as("avg_score"))
      .orderBy("lang", "predicted")
      .localCheckpoint(true)
    d.unpersist()
    out
  }

  val q35Sql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN length(norm) < 3 THEN [norm]
      |         ELSE list_transform(range(1, length(norm) - 1),
      |                i -> substring(norm, i, 3)) END AS tgs
      |  FROM d),
      |ex AS (SELECT lang AS p_lang, unnest(tgs) AS tg FROM t),
      |cnt AS (SELECT p_lang, tg, COUNT(*) AS cnt FROM ex GROUP BY 1, 2),
      |topk AS (
      |  SELECT p_lang, tg FROM (
      |    SELECT p_lang, tg,
      |      row_number() OVER (PARTITION BY p_lang ORDER BY cnt DESC, tg) AS r
      |    FROM cnt) WHERE r <= 64),
      |prof AS (SELECT p_lang, list(tg) AS profile FROM topk GROUP BY p_lang),
      |scored AS (
      |  SELECT t.doc_id, t.lang, p.p_lang,
      |    CAST(len(list_intersect(list_distinct(t.tgs), p.profile)) AS DOUBLE)
      |      / len(list_distinct(t.tgs)) AS score
      |  FROM t CROSS JOIN prof p),
      |best AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY doc_id ORDER BY score DESC, p_lang) AS rk
      |    FROM scored) WHERE rk = 1)
      |SELECT lang, p_lang AS predicted, COUNT(*) AS n_docs,
      |  CAST(SUM(CAST(score AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*) AS avg_score
      |FROM best GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin

  // ---------------------------------------------------------------- q41
  /** Sketch-only corpus profile — the 100 TB production entry point:
    * HyperLogLog++ distinct counts and t-digest percentiles per lang,
    * the scale stand-ins for q12's exact countDistinct and q37's exact
    * percentile. Both sketches merge map-side (constant-size state per
    * partition), where the exact forms shuffle full key sets / sort full
    * groups. Sketch values are engine-specific (no DuckDB twin), so this
    * function is NOT registered directly; the registered q41 is
    * [[q41SketchProfile]], which certifies these sketches against the
    * exact aggregates inside the oracle-checked plan. */
  def sketchProfile(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("n_tokens", tokenCount(col("text")))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        approx_count_distinct(col("text"), 0.02).as("approx_distinct_texts"),
        approx_count_distinct(col("source"), 0.02).as("approx_distinct_sources"),
        // cast: approx_percentile preserves the int input type; double
        // keeps the profile schema aligned with the exact-percentile twin
        expr("approx_percentile(n_tokens, 0.5, 1000)").cast("double")
          .as("approx_median_tokens"))
      .orderBy("lang")

  /** Registered q41: deterministic sketch CERTIFICATION (round 9 — ends
    * the one `no_oracle` CORRECTNESS row). Sketch estimates themselves
    * can't hash-match a DuckDB twin, but their ACCURACY can: compute
    * sketch and exact side by side, emit exact `n_docs` plus integer
    * flags `|sketch − exact| ≤ tol` (HLL at rsd 0.02 certified to 5% + 2;
    * t-digest median to 2% + 1), and let the oracle pin the flags to 1.
    * A hash match now re-certifies the sketches on every driver run —
    * strictly stronger than the old rows-only check; DocOpsSpec keeps the
    * sharper numeric pins. The exact aggregates make this the AUDIT query
    * (fixture/sample scale); the sketch-only production plan stays
    * [[sketchProfile]]. */
  def q41SketchProfile(spark: SparkSession, dir: String): DataFrame = {
    val okInt = (d: Column, tol: Column) =>
      when(d <= tol, lit(1)).otherwise(lit(0))
    // ONE scan, ONE aggregation: sketch and exact aggregates side by side
    // in the same groupBy (multiple distincts plan via Expand) — no second
    // corpus pass, no join (round-9 review fix)
    docs(spark, dir)
      .withColumn("n_tokens", tokenCount(col("text")))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        approx_count_distinct(col("text"), 0.02).as("a_texts"),
        approx_count_distinct(col("source"), 0.02).as("a_sources"),
        expr("approx_percentile(n_tokens, 0.5, 1000)").cast("double")
          .as("a_median"),
        countDistinct(col("text")).as("x_texts"),
        countDistinct(col("source")).as("x_sources"),
        expr("percentile(n_tokens, 0.5)").as("x_median"))
      .select(
        col("lang"), col("n_docs"),
        okInt(abs(col("a_texts") - col("x_texts")).cast("double"),
          col("x_texts") * lit(0.05) + lit(2.0)).as("hll_texts_ok"),
        okInt(abs(col("a_sources") - col("x_sources")).cast("double"),
          col("x_sources") * lit(0.05) + lit(2.0)).as("hll_sources_ok"),
        okInt(abs(col("a_median") - col("x_median")),
          col("x_median") * lit(0.02) + lit(1.0)).as("tdigest_median_ok"))
      .orderBy("lang")
  }

  /** DuckDB twin of the registered q41: exact `n_docs` per lang, flags
    * pinned to literal 1 — the hash gate then fails exactly when a Spark
    * sketch drifts outside its certified tolerance. */
  val q41Sql: String =
    """WITH d AS (
      |  SELECT lang, source, text,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
      |  FROM documents)
      |SELECT lang, COUNT(*) AS n_docs,
      |  1 AS hll_texts_ok, 1 AS hll_sources_ok, 1 AS tdigest_median_ok
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q58
  /** Exact corpus profile — the ground-truth twin of q41's sketches, as
    * its own oracle-checked entry. At fixture scale the exact forms are
    * cheap and give the driver a cross-engine-verified reference that
    * DocOpsSpec pins q41's HLL++/t-digest estimates against; at 100 TB
    * the roles invert (exact NDV shuffles the full key set per group,
    * exact percentile sorts full groups — q41's merge-only sketches are
    * the plan you run there, with this entry as the audit query on
    * samples). */
  def q58ExactProfile(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("n_tokens", tokenCount(col("text")))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("distinct_texts"),
        countDistinct(col("source")).as("distinct_sources"),
        expr("percentile(n_tokens, 0.5)").as("median_tokens"))
      .orderBy("lang")

  val q58Sql: String =
    """WITH d AS (
      |  SELECT lang, source, text,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
      |  FROM documents)
      |SELECT lang, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT text) AS distinct_texts,
      |  COUNT(DISTINCT source) AS distinct_sources,
      |  quantile_cont(n_tokens, 0.5) AS median_tokens
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q42
  /** Capstone corpus-curation pipeline (oracle-checked end to end now that
    * the MinHash stage replays in DuckDB): the operators above
    * composed in the order a real pretraining-data pipeline runs them —
    * exact-dedup (min doc_id per fingerprint wins) → MinHash near-dedup
    * (larger id of each pair dropped) → quality filter → per-lang
    * survivor stats. One declarative plan: Catalyst fuses the projections,
    * and every dedup stage is equi-join keyed as before. */
  def q42CorpusCuration(spark: SparkSession, dir: String): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    val corpus = corpusWithNearDups(spark, dir)
      .repartition(par, col("doc_id"))
      .withColumn("fp", fingerprint(col("text")))
    // stage 1: exact dedup — keep the smallest doc_id per canonical text
    val wFp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    // exactDeduped feeds TWO consumers (the MinHash candidate generator and
    // the survivor anti-join). Exchange reuse only covers the shuffle below
    // the window, so without persisting, the scan+union+fingerprint subtree
    // re-executes per branch — at 100 TB that is the whole corpus read twice.
    // MEMORY_AND_DISK: the deduped corpus may not fit in memory at scale;
    // spilling beats recomputing. CacheManager keys on the canonicalized
    // plan, so repeated invocations reuse (not duplicate) this entry.
    val exactDeduped = corpus
      .withColumn("_r", row_number().over(wFp)).filter(col("_r") === 1).drop("_r")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // stage 2: near-dedup — drop the larger id of every MinHash pair
    val nearPairs = {
      val base = exactDeduped
        .withColumn("toks", tokens(col("text")))
        .withColumn("sh", shingles(col("toks"), 3))
        .withColumn("sig", minhashSignature(col("sh"), 16))
      val banded = base.select(col("doc_id"), col("sh"),
          explode(minhashBands(col("sig"), 8, 2)).as("b"))
        .select(col("doc_id"), col("sh"),
          col("b.band").as("band"), col("b.band_hash").as("band_hash"))
      val a = banded.select(col("band"), col("band_hash"),
        col("doc_id").as("a_id"), col("sh").as("a_sh"))
      val b = banded.select(col("band"), col("band_hash"),
        col("doc_id").as("b_id"), col("sh").as("b_sh"))
      a.join(b, Seq("band", "band_hash"))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          jaccard(col("a_sh"), col("b_sh")).as("j"))
        .distinct()
        .filter(col("j") >= 0.5)
    }
    val dropIds = nearPairs.select(col("b_id").as("doc_id")).distinct()
    val nearDeduped = exactDeduped.join(dropIds, Seq("doc_id"), "left_anti")
    // stage 3: quality floor
    val curated = nearDeduped
      .withColumn("toks", tokens(col("text")))
      .withColumn("quality",
        least(lit(1.0), size(col("toks")).cast("double") / 100.0) * 0.5
          + least(lit(1.0), length(col("text")).cast("double") / 500.0) * 0.5)
      .filter(col("quality") >= 0.2)
    // Eagerly materialize the per-lang summary (a handful of rows) so the
    // deduped-corpus cache can be released before returning: CacheManager
    // holds persist() entries strongly, so a lazy return would retain the
    // whole deduped corpus for the lifetime of the shared bench/driver JVM.
    val out = curated.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_survivors"),
        sum(size(col("toks"))).as("total_tokens"),
        min(col("doc_id")).as("min_doc_id"))
      .orderBy("lang")
      .localCheckpoint(true)
    exactDeduped.unpersist()
    out
  }

  val q42Sql: String =
    s"""WITH corpus0 AS ($corpusNearDupSql),
       |corpus AS (
       |  SELECT doc_id, text, lang FROM (
       |    SELECT doc_id, text, lang, row_number() OVER (
       |      PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
       |      ORDER BY doc_id) AS r
       |    FROM corpus0) WHERE r = 1),
       |${minhashPairsSqlFragment("corpus")},
       |drops AS (SELECT DISTINCT b_id AS doc_id FROM pairs WHERE jaccard >= 0.5),
       |surv AS (
       |  SELECT c.doc_id, c.text, c.lang,
       |    CASE WHEN length(trim(c.text)) = 0 THEN 0
       |         ELSE len(regexp_split_to_array(trim(c.text), '\\s+')) END AS n_toks
       |  FROM corpus c ANTI JOIN drops d ON c.doc_id = d.doc_id),
       |curated AS (
       |  SELECT * FROM surv
       |  WHERE least(1.0, CAST(n_toks AS DOUBLE) / 100.0) * 0.5
       |      + least(1.0, CAST(length(text) AS DOUBLE) / 500.0) * 0.5 >= 0.2)
       |SELECT lang, COUNT(*) AS n_survivors,
       |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       |  MIN(doc_id) AS min_doc_id
       |FROM curated GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q211
  /** Dedup-detector agreement audit: the Venn decomposition of the pair
    * sets flagged by MinHash-LSH (q22, word-shingle Jaccard ≥ 0.5) and
    * SimHash (q27, 64-bit Hamming ≤ 4) over the same near-dup corpus —
    * pairs both agree on, pairs only one finds, and the pair-set Jaccard.
    * The operational question it answers: do the two detectors
    * substitute for or complement each other (should the pipeline run
    * both)? Built by COMPOSING the registered q22/q27 plans, so the
    * audit certifies the combination, not re-derived copies.
    *
    * Exactness: pair ids are integers; the three counts are exact; the
    * agreement ratio is one double division of exact counts.
    *
    * Scale shape: the q22/q27 stages keep their banded equi-join plans;
    * the audit adds one full-outer hash join of two id-pair lists (each
    * orders of magnitude below the corpus) and a 1-row aggregate. */
  def q211DedupVenn(spark: SparkSession, dir: String): DataFrame = {
    val mh = q22NearDupMinhash(spark, dir)
      .select(col("a_id"), col("b_id"), lit(1L).as("in_mh"))
    val sh = q27SimhashNearDup(spark, dir)
      .select(col("a_id"), col("b_id"), lit(1L).as("in_sh"))
    mh.join(sh, Seq("a_id", "b_id"), "full_outer")
      .agg(
        sum(when(col("in_mh").isNotNull && col("in_sh").isNotNull, 1L)
          .otherwise(0L)).as("n_both"),
        sum(when(col("in_mh").isNotNull && col("in_sh").isNull, 1L)
          .otherwise(0L)).as("n_minhash_only"),
        sum(when(col("in_mh").isNull && col("in_sh").isNotNull, 1L)
          .otherwise(0L)).as("n_simhash_only"),
        count(lit(1)).as("n_union"))
      .select(
        col("n_both"), col("n_minhash_only"), col("n_simhash_only"),
        col("n_union"),
        (col("n_both").cast("double") / col("n_union").cast("double"))
          .as("agreement"))
  }

  val q211Sql: String =
    s"""WITH corpus AS ($corpusNearDupSql),
       |${minhashPairsSqlFragment("corpus")},
       |mh AS (SELECT a_id, b_id FROM pairs WHERE jaccard >= 0.5),
       |stk AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
       |        FROM corpus WHERE length(trim(text)) > 0),
       |shs AS (SELECT doc_id, ${md5Hash60Sql("t")} AS h FROM stk),
       |sbits AS (
       |  SELECT doc_id, bs.b, SUM((h >> bs.b) & 1) AS cnt, COUNT(*) AS n
       |  FROM shs CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bs
       |  GROUP BY doc_id, bs.b),
       |ssig AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN 2 * cnt > n THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS h64
       |  FROM sbits GROUP BY doc_id
       |  UNION ALL
       |  SELECT doc_id, 0::BIGINT AS h64
       |  FROM corpus WHERE length(trim(text)) = 0),
       |schunked AS (
       |  SELECT doc_id, cs.c AS chunk, (h64 >> (cs.c * 16)) & 65535 AS cv
       |  FROM ssig CROSS JOIN (SELECT unnest(range(0, 4)) AS c) cs),
       |scand AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM schunked a JOIN schunked b ON a.chunk = b.chunk AND a.cv = b.cv
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       |sh AS (
       |  SELECT c.a_id, c.b_id
       |  FROM scand c
       |  JOIN ssig sa ON c.a_id = sa.doc_id
       |  JOIN ssig sb ON c.b_id = sb.doc_id
       |  WHERE bit_count(xor(sa.h64, sb.h64)) <= 4),
       |v AS (
       |  SELECT m.a_id AS m_a, s.a_id AS s_a
       |  FROM mh m FULL JOIN sh s ON m.a_id = s.a_id AND m.b_id = s.b_id)
       |SELECT
       |  CAST(SUM(CASE WHEN m_a IS NOT NULL AND s_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       |  CAST(SUM(CASE WHEN m_a IS NOT NULL AND s_a IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_minhash_only,
       |  CAST(SUM(CASE WHEN m_a IS NULL AND s_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_simhash_only,
       |  COUNT(*) AS n_union,
       |  CAST(SUM(CASE WHEN m_a IS NOT NULL AND s_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS agreement
       |FROM v""".stripMargin

  // ---------------------------------------------------------------- q230
  /** Exact-dedup savings ledger: BEFORE running dedup, what does it
    * buy? Over q19's dup-bearing corpus: docs/tokens/chars that vanish
    * when each fingerprint group keeps its min-doc_id representative,
    * and the char-share saved. The one-row business case for the dedup
    * pass (q204 estimates the same from a sample; this is the exact
    * ledger).
    *
    * Exactness: all counts exact; removable chars/tokens are group
    * sums MINUS the kept copy's (min_by doc_id — copies can differ in
    * raw whitespace, so the kept copy's own counts matter); one double
    * division.
    *
    * Scale shape: one fingerprint hash agg with min_by partials; one
    * 1-row final aggregate. */
  def q230DedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val grouped = corpusWithExactDups(spark, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"),
        length(col("text")).cast("long").as("chars"),
        tokenCount(col("text")).cast("long").as("toks"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n"),
        sum(col("chars")).as("sc"), sum(col("toks")).as("st"),
        min_by(col("chars"), col("doc_id")).as("kc"),
        min_by(col("toks"), col("doc_id")).as("kt"))
    grouped.agg(
        sum(col("n")).as("n_docs"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
        sum(col("n") - 1).as("docs_removable"),
        sum(col("st") - col("kt")).as("tokens_removable"),
        sum(col("sc") - col("kc")).as("chars_removable"),
        sum(col("sc")).as("total_chars"))
      .select(
        col("n_docs"), col("n_dup_groups"), col("docs_removable"),
        col("tokens_removable"), col("chars_removable"),
        (round(col("chars_removable").cast("double") /
          col("total_chars").cast("double"), 6) + lit(0.0))
          .as("char_savings_share"))
  }

  val q230Sql: String =
    s"""WITH corpus AS ($corpusDupSql),
      |g AS (
      |  SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
      |      AS fp,
      |    COUNT(*) AS n,
      |    CAST(SUM(length(text)) AS BIGINT) AS sc,
      |    CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
      |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)
      |      AS BIGINT) AS st,
      |    CAST(min_by(length(text), doc_id) AS BIGINT) AS kc,
      |    CAST(min_by(CASE WHEN length(trim(text)) = 0 THEN 0
      |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END,
      |      doc_id) AS BIGINT) AS kt
      |  FROM corpus GROUP BY 1)
      |SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_groups,
      |  CAST(SUM(n - 1) AS BIGINT) AS docs_removable,
      |  CAST(SUM(st - kt) AS BIGINT) AS tokens_removable,
      |  CAST(SUM(sc - kc) AS BIGINT) AS chars_removable,
      |  round(CAST(SUM(sc - kc) AS DOUBLE) / CAST(SUM(sc) AS DOUBLE), 6)
      |    + 0.0 AS char_savings_share
      |FROM g""".stripMargin

  // ---------------------------------------------------------------- q240
  /** Boilerplate span detection: the word-5-grams repeated across the
    * most DOCUMENTS (doc-frequency, not raw count — a phrase repeated
    * inside one doc is style; across many docs it's template), with how
    * many sources carry each. The C4-style boilerplate surface — q85
    * REMOVES repeated spans; this names them first, which is how a
    * curation pipeline builds its strip-list (navigation chrome, cookie
    * banners, license footers).
    *
    * Exactness: distinct-per-doc shingles (array_distinct before
    * explode) make df an exact count; top-15 is deterministic
    * (df desc, shingle asc).
    *
    * Scale shape: tokenize + shingle + distinct-explode → one
    * map-combinable (shingle → df, source-set) agg; top-15 lowers to
    * TakeOrderedAndProject. Shingle cardinality is corpus-scale but the
    * agg is a plain hash shuffle — the same shape as every dedup
    * signature pass. */
  def q240BoilerplateShingles(spark: SparkSession, dir: String): DataFrame = {
    // spread the tokenize+shingle explode: the fixture scan is a single
    // parquet split (q329's note), and this stage is the whole cost
    val sh = docs(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"),
        explode(array_distinct(shingles(tokens(lower(col("text"))), 5)))
          .as("shingle"))
    sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"),
        count_distinct(col("source")).as("n_sources"))
      .orderBy(desc("df"), asc("shingle"))
      .limit(15)
  }

  val q240Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, source,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |shg AS (
      |  SELECT doc_id, source,
      |    CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks) - 3),
      |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                     || ' ' || toks[i+3] || ' ' || toks[i+4]) END
      |      AS sh
      |  FROM tk),
      |ex AS (
      |  SELECT doc_id, source, unnest(list_distinct(sh)) AS shingle
      |  FROM shg)
      |SELECT shingle, COUNT(*) AS df,
      |  COUNT(DISTINCT source) AS n_sources
      |FROM ex GROUP BY 1 ORDER BY df DESC, shingle LIMIT 15""".stripMargin

  // ---------------------------------------------------------------- q251
  /** Code-switch / mislabel detection: classify each document's FIRST
    * and SECOND half independently with q35's trigram-profile language
    * ID; halves that disagree flag mixed-language documents (or
    * profiles too weak to be stable — either way, docs a monolingual
    * training mix shouldn't ingest unsplit). Per-language census of
    * disagreement rates.
    *
    * Exactness: profiles, scores, and argmax picks reuse q35's exact
    * spelling (integer trigram counts, deterministic top-64 and argmax
    * tie-breaks); the census is exact counts + one double division.
    *
    * Scale shape: q35's plan run over 2× the rows (halves) — profile
    * build on full docs, half scoring via one broadcast profile
    * cross-join, per-(doc, half) argmax partitioned window. */
  def q251CodeSwitch(spark: SparkSession, dir: String): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    val d = docs(spark, dir)
      .repartition(par, col("doc_id"))
      .withColumn("norm", normText(col("text")))
      .filter(length(col("norm")) >= 6)
      .withColumn("tgs", charNgrams(col("norm"), 3))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wTop = Window.partitionBy(col("p_lang"))
      .orderBy(col("cnt").desc, col("tg"))
    val profiles = d
      .select(col("lang").as("p_lang"), explode(col("tgs")).as("tg"))
      .groupBy(col("p_lang"), col("tg"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("r", row_number().over(wTop))
      .filter(col("r") <= 64)
      .groupBy(col("p_lang"))
      .agg(collect_set(col("tg")).as("profile"))
    val halves = d
      .select(col("doc_id"), col("lang"), lit(1).as("half"),
        expr("substring(norm, 1, length(norm) div 2)").as("seg"))
      .unionByName(d.select(col("doc_id"), col("lang"), lit(2).as("half"),
        expr("substring(norm, length(norm) div 2 + 1, length(norm))")
          .as("seg")))
      .withColumn("dtgs", array_distinct(charNgrams(col("seg"), 3)))
    val wBest = Window.partitionBy(col("doc_id"), col("half"))
      .orderBy(col("score").desc, col("p_lang"))
    val best = halves
      .crossJoin(broadcast(profiles))
      .withColumn("score",
        size(array_intersect(col("dtgs"), col("profile"))).cast("double") /
          size(col("dtgs")).cast("double"))
      .withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("half"), col("p_lang"))
    val h1 = best.filter(col("half") === 1)
      .select(col("doc_id"), col("lang"), col("p_lang").as("l1"))
    val h2 = best.filter(col("half") === 2)
      .select(col("doc_id").as("d2"), col("p_lang").as("l2"))
    val out = h1.join(h2, col("doc_id") === col("d2"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("l1") =!= col("l2"), 1L).otherwise(0L))
          .as("n_disagree"))
      .select(col("lang"), col("n_docs"), col("n_disagree"),
        (round(col("n_disagree").cast("double") /
          col("n_docs").cast("double"), 6) + lit(0.0))
          .as("disagree_rate"))
      .orderBy("lang")
      .localCheckpoint(true)
    d.unpersist()
    out
  }

  val q251Sql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
      |  FROM documents
      |  WHERE length(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
      |    >= 6),
      |t AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN length(norm) < 3 THEN [norm]
      |         ELSE list_transform(range(1, length(norm) - 1),
      |                i -> substring(norm, i, 3)) END AS tgs
      |  FROM d),
      |ex AS (SELECT lang AS p_lang, unnest(tgs) AS tg FROM t),
      |cnt AS (SELECT p_lang, tg, COUNT(*) AS cnt FROM ex GROUP BY 1, 2),
      |topk AS (
      |  SELECT p_lang, tg FROM (
      |    SELECT p_lang, tg,
      |      row_number() OVER (PARTITION BY p_lang ORDER BY cnt DESC, tg)
      |        AS r
      |    FROM cnt) WHERE r <= 64),
      |prof AS (SELECT p_lang, list(tg) AS profile FROM topk
      |         GROUP BY p_lang),
      |halves AS (
      |  SELECT doc_id, lang, 1 AS half,
      |    substring(norm, 1, length(norm) // 2) AS seg FROM d
      |  UNION ALL
      |  SELECT doc_id, lang, 2,
      |    substring(norm, length(norm) // 2 + 1, length(norm)) FROM d),
      |ht AS (
      |  SELECT doc_id, lang, half,
      |    list_distinct(
      |      CASE WHEN length(seg) < 3 THEN [seg]
      |           ELSE list_transform(range(1, length(seg) - 1),
      |                  i -> substring(seg, i, 3)) END) AS dtgs
      |  FROM halves),
      |scored AS (
      |  SELECT ht.doc_id, ht.lang, ht.half, p.p_lang,
      |    CAST(len(list_intersect(ht.dtgs, p.profile)) AS DOUBLE)
      |      / len(ht.dtgs) AS score
      |  FROM ht CROSS JOIN prof p),
      |best AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY doc_id, half ORDER BY score DESC, p_lang) AS rk
      |    FROM scored) WHERE rk = 1),
      |j AS (
      |  SELECT a.lang, a.p_lang AS l1, b.p_lang AS l2
      |  FROM (SELECT * FROM best WHERE half = 1) a
      |  JOIN (SELECT * FROM best WHERE half = 2) b
      |    ON a.doc_id = b.doc_id)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN l1 <> l2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_disagree,
      |  round(CAST(SUM(CASE WHEN l1 <> l2 THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS disagree_rate
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q269
  /** Cross-source duplicate-flow matrix: for every exact-duplicate
    * group, attribute the copies to the group's CANONICAL source (the
    * source of its min doc_id — the keep-latest twin of q18's
    * tiebreak) and count (canonical source → copying source) flows.
    * The provenance view q19's group census and q230's savings ledger
    * both flatten away: at corpus scale this matrix is how you find
    * mirror sites and scraped-content launderers (a source whose
    * column is large COPIES; one whose row is large GETS COPIED) and
    * decide which feed to drop entirely rather than dedup forever.
    *
    * Fixture: the q19 exact-dup corpus re-homed — every 10th doc's
    * clone lands in the deterministically shifted source
    * src((doc_id/10) mod 20), so flows genuinely cross sources.
    *
    * Exactness: the fingerprint is the q19/q25 md5 normalization; the
    * canonical pick is a min(doc_id) window per group (deterministic);
    * flows are exact counts; no floats anywhere.
    *
    * Scale shape: the fingerprint agg is the exact-dedup shuffle
    * (q19's); the canonical window is partitioned by fingerprint
    * (group-bounded state); the flow census is |sources|². */
  def q269DupFlowMatrix(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("source"), col("text"))
    val corpus = d.unionAll(d.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 100000)
      .withColumn("source",
        concat(lit("src"), (floor(col("doc_id") / 10) % 20).cast("long"))))
    val g = corpus
      .select(col("doc_id"), col("source"), fingerprint(col("text")).as("fp"))
      .withColumn("min_id",
        min(col("doc_id")).over(Window.partitionBy(col("fp"))))
    val canon = g.filter(col("doc_id") === col("min_id"))
      .select(col("fp"), col("source").as("source_from"))
    g.filter(col("doc_id") =!= col("min_id"))
      .join(canon, "fp")
      .groupBy(col("source_from"), col("source").as("source_to"))
      .agg(count(lit(1)).as("n_copies"))
      .orderBy("source_from", "source_to")
  }

  val q269Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, source, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id,
      |    'src' || CAST(((doc_id + 100000) // 10) % 20 AS VARCHAR)
      |      AS source, text
      |  FROM documents WHERE doc_id % 10 = 0),
      |g AS (
      |  SELECT doc_id, source,
      |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
      |  FROM corpus),
      |m AS (
      |  SELECT doc_id, source, fp,
      |    MIN(doc_id) OVER (PARTITION BY fp) AS min_id
      |  FROM g),
      |canon AS (
      |  SELECT fp, source AS source_from FROM m WHERE doc_id = min_id)
      |SELECT source_from, m.source AS source_to, COUNT(*) AS n_copies
      |FROM m JOIN canon USING (fp)
      |WHERE m.doc_id <> m.min_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q281
  /** LSH operating-point calibration: the SAME 16-element MinHash
    * signature banded three ways — 2 bands × 8 rows, 4 × 4, 8 × 2 —
    * each configuration measured on the dup-injected corpus for
    * candidate volume, verified near-dups (exact Jaccard ≥ 0.5),
    * precision, and recall relative to the loosest (8 × 2) banding.
    * THE table behind every banding decision this library registers
    * (q22/q98/q154) and behind VERDICT r11's q50 finding: r rows per
    * band admits random pairs at ~(1/k)^r per band, so walking r from
    * 8 → 2 trades precision for recall — this query turns that theory
    * into measured numbers on real text, per configuration, in one
    * pass over one signature table.
    *
    * Exactness: signatures/bands are the hash-certified q22 machinery;
    * Jaccard is an exact integer ratio (≥ 0.5 compares exactly);
    * verification runs ONCE over the union of all configs' candidates
    * and each config's counts are exact joins against that verdict
    * table; rates are closing double divisions, 6-dp-rounded.
    *
    * Scale shape: one shingle+signature pass (localCheckpoint barrier,
    * the q154 convention), three band equi-joins on skinny id rows
    * (each the q22 candidate shape — a hash shuffle, never all-pairs),
    * one shingle fetch for the UNION of candidates. Recall here is
    * relative-to-loosest by construction — no all-pairs truth scan. */
  def q281LshCalibration(spark: SparkSession, dir: String): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    val base = corpusWithNearDups(spark, dir)
      .repartition(par, col("doc_id"))
      .withColumn("toks", tokens(col("text")))
      .withColumn("sh", array_distinct(shingles(col("toks"), 3)))
      .withColumn("sig", minhashSignature(col("sh"), 16))
      .select(col("doc_id"), col("sh"), col("sig"))
      .localCheckpoint(true)
    val configs = Seq((2, 8), (4, 4), (8, 2))
    val candByCfg = configs.map { case (b, r) =>
      val banded = base
        .select(col("doc_id"), explode(minhashBands(col("sig"), b, r)).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"),
          col("bb.band_hash").as("bh"))
      val l = banded.select(col("band"), col("bh"), col("doc_id").as("a_id"))
      val rr = banded.select(col("band"), col("bh"), col("doc_id").as("b_id"))
      (b, r, l.join(rr, Seq("band", "bh"))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id")).distinct()
        .localCheckpoint(true))
    }
    val allCand = candByCfg.map(_._3).reduce(_.unionAll(_)).distinct()
    val verdict = allCand
      .join(base.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(base.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .select(col("a_id"), col("b_id"),
        (jaccard(col("a_sh"), col("b_sh")) >= 0.5).as("is_dup"))
      .localCheckpoint(true)
    val loosestVerified = candByCfg.last._3.join(verdict, Seq("a_id", "b_id"))
      .filter(col("is_dup")).count()
    candByCfg.map { case (b, r, cand) =>
      val joined = cand.join(verdict, Seq("a_id", "b_id"))
      joined.agg(
          count(lit(1)).as("n_candidates"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_verified"))
        .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          col("n_candidates"), col("n_verified"),
          (round(col("n_verified").cast("double") /
            col("n_candidates").cast("double"), 6) + lit(0.0))
            .as("precision"),
          (round(col("n_verified").cast("double") / lit(loosestVerified), 6)
            + lit(0.0)).as("recall_vs_loosest"))
    }.reduce(_.unionAll(_)).orderBy("bands")
  }

  val q281Sql: String = {
    import graft.functions.TextFunctions.md5Hash60Sql
    val P = org.apache.spark.sql.graft.MinHashP61.P
    val sigCols = (0 until 16).map { j =>
      val a = org.apache.spark.sql.graft.MinHashP61.a(j)
      val b = org.apache.spark.sql.graft.MinHashP61.b(j)
      s"MIN((h * ${a}::HUGEINT + $b) % $P)::BIGINT AS s$j"
    }.mkString(",\n    ")
    def bandCte(name: String, bands: Int, rows: Int): String = {
      val sels = (0 until bands).map { bd =>
        val key = (0 until rows)
          .map(i => s"s${bd * rows + i}::VARCHAR")
          .mkString(" || ',' || ")
        s"SELECT doc_id, $bd AS band, $key AS bh FROM sig"
      }.mkString("\n  UNION ALL ")
      s"""${name}_b AS (
        |  $sels),
        |$name AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM ${name}_b a JOIN ${name}_b b
        |    ON a.band = b.band AND a.bh = b.bh
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)""".stripMargin
    }
    s"""WITH corpus AS ($corpusNearDupSql),
      |tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      |       FROM corpus),
      |shg AS (
      |  SELECT doc_id,
      |    list_distinct(
      |      CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |           ELSE list_transform(range(1, len(toks) - 1),
      |                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |      END) AS sh
      |  FROM tk),
      |hs AS (SELECT doc_id, ${md5Hash60Sql("s")} AS h
      |       FROM (SELECT doc_id, unnest(sh) AS s FROM shg)),
      |sig AS (SELECT doc_id,
      |    $sigCols
      |  FROM hs GROUP BY doc_id),
      |${bandCte("c2", 2, 8)},
      |${bandCte("c4", 4, 4)},
      |${bandCte("c8", 8, 2)},
      |allc AS (
      |  SELECT a_id, b_id FROM c2
      |  UNION SELECT a_id, b_id FROM c4
      |  UNION SELECT a_id, b_id FROM c8),
      |verdict AS (
      |  SELECT c.a_id, c.b_id,
      |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
      |    CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE) >= 0.5
      |      AS is_dup
      |  FROM allc c
      |  JOIN shg sa ON c.a_id = sa.doc_id
      |  JOIN shg sb ON c.b_id = sb.doc_id),
      |loosest AS (
      |  SELECT COUNT(*) AS t FROM c8 JOIN verdict USING (a_id, b_id)
      |  WHERE is_dup),
      |stats AS (
      |  SELECT 2 AS bands, 8 AS rows_per_band, COUNT(*) AS n_candidates,
      |    CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_verified
      |  FROM c2 JOIN verdict USING (a_id, b_id)
      |  UNION ALL
      |  SELECT 4, 4, COUNT(*),
      |    CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM c4 JOIN verdict USING (a_id, b_id)
      |  UNION ALL
      |  SELECT 8, 2, COUNT(*),
      |    CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM c8 JOIN verdict USING (a_id, b_id))
      |SELECT bands, rows_per_band, n_candidates, n_verified,
      |  round(CAST(n_verified AS DOUBLE) / CAST(n_candidates AS DOUBLE), 6)
      |    + 0.0 AS precision,
      |  round(CAST(n_verified AS DOUBLE) / CAST(t AS DOUBLE), 6) + 0.0
      |    AS recall_vs_loosest
      |FROM stats, loosest ORDER BY bands""".stripMargin
  }

  // --------------------------------------------------------------- q283
  /** Duplication rate by document-length decile: over the dup-injected
    * corpus, the share of documents sitting in an exact-duplicate group
    * within each length decile (exact NTILE on (n_chars, doc_id) via
    * RangeRank). The length-bias audit for dedup policy: web-scale
    * corpora duplicate SHORT documents (boilerplate, templates) at a
    * far higher rate than long ones, so a flat sampled dup-rate
    * (q204) under-states the short-doc problem — and a dedup pass
    * evaluated only on the overall rate can pass while leaving the
    * short tail duplicate-ridden.
    *
    * Exactness: group membership is exact (q19's fingerprint, group
    * size > 1); deciles are RangeRank's exact NTILE under a total
    * order — bit-identical to the oracle's NTILE(10); shares are one
    * double division, 6-dp-rounded.
    *
    * Scale shape: fingerprint agg (the exact-dedup shuffle) + a
    * broadcast-size group census join + RangeRank's two linear
    * shuffles; the decile census is 10 rows. */
  def q283DupByLength(spark: SparkSession, dir: String): DataFrame = {
    val g = corpusWithExactDups(spark, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"),
        length(col("text")).as("len"))
    val d = g.join(g.groupBy(col("fp")).agg(count(lit(1)).as("gsz")), "fp")
      .select(col("doc_id"), col("len"),
        when(col("gsz") > 1, 1L).otherwise(0L).as("in_dup"))
    graft.operators.RangeRank.withNtile(d, "decile", 10,
        Seq(col("len"), col("doc_id")))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("in_dup")).as("n_in_dup"))
      .withColumn("dup_share",
        round(col("n_in_dup").cast("double") /
          col("n_docs").cast("double"), 6) + lit(0.0))
      .orderBy("decile")
  }

  val q283Sql: String =
    s"""WITH corpus AS ($corpusDupSql),
      |g AS (
      |  SELECT doc_id,
      |    md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
      |    length(text) AS len
      |  FROM corpus),
      |gs AS (SELECT fp, COUNT(*) AS gsz FROM g GROUP BY 1),
      |d AS (
      |  SELECT doc_id, len,
      |    CASE WHEN gsz > 1 THEN 1 ELSE 0 END AS in_dup,
      |    CAST(NTILE(10) OVER (ORDER BY len, doc_id) AS INTEGER) AS decile
      |  FROM g JOIN gs USING (fp))
      |SELECT decile, COUNT(*) AS n_docs,
      |  CAST(SUM(in_dup) AS BIGINT) AS n_in_dup,
      |  round(CAST(SUM(in_dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
      |    + 0.0 AS dup_share
      |FROM d GROUP BY 1 ORDER BY decile""".stripMargin

  // --------------------------------------------------------------- q330
  /** Cohen's kappa for the q35 language-ID classifier: chance-corrected
    * agreement between the declared and predicted labels,
    * κ = (N·Σdiag − Σ_l r_l·c_l) / (N² − Σ_l r_l·c_l) over the
    * confusion matrix q35 already emits — the metric that separates a
    * classifier from a marginal-matching coin (raw accuracy flatters
    * any skewed label mix; κ = 0 is exactly chance). Composes the
    * REGISTERED q35 plan (the q309 composition discipline), so this
    * certifies the confusion matrix and the chance correction in one
    * oracle.
    *
    * Exactness: all marginal products are exact BIGINTs (N² at 100 TB
    * doc counts still < 2⁶³ for N < 3×10⁹; the oracle widths match);
    * accuracy/expected-accuracy/κ are single double expressions over
    * identical exact operands.
    *
    * Scale shape: q35's plan plus a |langs|²-cell rollup — marginals
    * and the κ reduction are census-scale aggs, no window. */
  def q330LangidKappa(spark: SparkSession, dir: String): DataFrame = {
    val cm = q35LangIdNgram(spark, dir)
      .select(col("lang"), col("predicted"), col("n_docs").as("n"))
    val tot = cm.agg(sum(col("n")).as("nn"),
      sum(when(col("lang") === col("predicted"), col("n")).otherwise(0L))
        .as("diag"))
    val rmar = cm.groupBy(col("lang")).agg(sum(col("n")).as("r"))
    val cmar = cm.groupBy(col("predicted")).agg(sum(col("n")).as("c"))
    val pe = rmar.join(cmar, col("lang") === col("predicted"))
      .agg(sum(col("r") * col("c")).as("pe_num"))
    val nD = col("nn").cast("double")
    tot.crossJoin(broadcast(pe))
      .select(col("nn").as("n_docs"), col("diag").as("n_correct"),
        col("pe_num"),
        (col("diag").cast("double") / nD).as("accuracy"),
        (col("pe_num").cast("double") / (nD * nD))
          .as("expected_accuracy"),
        ((nD * col("diag").cast("double") - col("pe_num").cast("double"))
          / (nD * nD - col("pe_num").cast("double"))).as("kappa"))
  }

  val q330Sql: String = {
    val cte = q35Sql.substring(0, q35Sql.indexOf("SELECT lang, p_lang"))
    s"""$cte,
      |cm AS (
      |  SELECT lang, p_lang AS predicted, COUNT(*) AS n
      |  FROM best GROUP BY 1, 2),
      |tot AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS nn,
      |    CAST(SUM(CASE WHEN lang = predicted THEN n ELSE 0 END)
      |      AS BIGINT) AS diag
      |  FROM cm),
      |rmar AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS r
      |         FROM cm GROUP BY 1),
      |cmar AS (SELECT predicted, CAST(SUM(n) AS BIGINT) AS c
      |         FROM cm GROUP BY 1),
      |pe AS (
      |  SELECT CAST(SUM(r * c) AS BIGINT) AS pe_num
      |  FROM rmar JOIN cmar ON lang = predicted)
      |SELECT nn AS n_docs, diag AS n_correct, pe_num,
      |  CAST(diag AS DOUBLE) / CAST(nn AS DOUBLE) AS accuracy,
      |  CAST(pe_num AS DOUBLE)
      |    / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))
      |    AS expected_accuracy,
      |  (CAST(nn AS DOUBLE) * CAST(diag AS DOUBLE)
      |     - CAST(pe_num AS DOUBLE))
      |    / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
      |       - CAST(pe_num AS DOUBLE)) AS kappa
      |FROM tot, pe""".stripMargin
  }

  // --------------------------------------------------------------- q411
  /** Normalization-ladder dedup census — HOW AGGRESSIVELY to normalize
    * before exact dedup, measured instead of guessed: the same corpus
    * fingerprinted at four cumulative normalization levels (raw bytes →
    * casefold → whitespace collapse → punctuation strip), each level
    * reporting distinct fingerprints, duplicate docs/groups, and the
    * MARGINAL dups only that level exposes. q19/q25 hard-code level 2
    * (the md5-of-normText convention); this query is the decision table
    * that justifies the choice — and shows what level 3 would
    * additionally merge (with its false-merge risk: "don't!" vs
    * "don't" collide once punctuation dies).
    *
    * Derived corpus (the q19 clone convention, ids offset per class far
    * above fixture ids): every 5th doc gains an UPPERCASED copy
    * (invisible to raw, caught from casefold on), every 7th a
    * whitespace-mangled copy (doubled inner spaces + leading pad),
    * every 11th a punctuation-decorated copy (quoted + trailing
    * ellipsis) — so each ladder step catches exactly one planted class
    * and the census is oracle-checkable end to end.
    *
    * Exactness: md5 fingerprints and integer counts only; the share is
    * ONE 6-dp-snapped division. Both engines apply the identical regex
    * chain (Java regexp_replace replaces all matches = RE2 'g').
    *
    * Scale shape: the 4-level fingerprint stack is a per-row projection
    * (4× explode of the corpus), ONE (level, fp) hash agg — map-
    * combinable, fingerprint-census-scale — then a ≤ 4-row rollup and
    * a broadcast lag-join for the marginal column. */
  def q411NormalizationLadder(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    def planted(mod: Int, offset: Long, mangle: Column): DataFrame =
      d.filter(col("doc_id") % mod === 0)
        .select((col("doc_id") + offset).as("doc_id"), mangle.as("text"))
    val corpus = d
      .unionAll(planted(5, 1000000000000L, upper(col("text"))))
      .unionAll(planted(7, 2000000000000L,
        concat(lit("  "), regexp_replace(col("text"), " ", "  "))))
      .unionAll(planted(11, 3000000000000L,
        concat(lit("\" "), col("text"), lit(" ...\""))))
    val lv = corpus
      .withColumn("f0", md5(col("text")))
      .withColumn("f1", md5(lower(col("text"))))
      .withColumn("f2",
        md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")))
      .withColumn("f3", md5(regexp_replace(trim(
        regexp_replace(lower(col("text")), "[^a-z0-9\\s]", " ")),
        "\\s+", " ")))
      .select(expr("stack(4, 0L, f0, 1L, f1, 2L, f2, 3L, f3) " +
        "as (level_id, fp)"))
    val census = lv.groupBy(col("level_id"), col("fp"))
      .agg(count(lit(1)).as("cnt"))
    val per = census.groupBy(col("level_id"))
      .agg(sum(col("cnt")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        sum(col("cnt") - 1L).as("dup_docs"),
        sum(when(col("cnt") >= 2L, 1L).otherwise(0L)).as("n_dup_groups"))
    val prev = per.select((col("level_id") + 1L).as("level_id"),
      col("dup_docs").as("dup_prev"))
    per.join(broadcast(prev), Seq("level_id"), "left")
      .select(col("level_id"),
        when(col("level_id") === 0L, "raw")
          .when(col("level_id") === 1L, "casefold")
          .when(col("level_id") === 2L, "whitespace")
          .otherwise("punct_strip").as("level"),
        col("n_docs"), col("n_distinct"), col("dup_docs"),
        col("n_dup_groups"),
        (col("dup_docs") - coalesce(col("dup_prev"), lit(0L)))
          .as("marginal_dups"),
        r6(col("dup_docs").cast("double") / col("n_docs").cast("double"))
          .as("dup_share"))
      .orderBy("level_id")
  }

  val q411Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000000000, upper(text) FROM documents
      |  WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000000000,
      |    '  ' || regexp_replace(text, ' ', '  ', 'g') FROM documents
      |  WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 3000000000000, '" ' || text || ' ..."'
      |  FROM documents WHERE doc_id % 11 = 0),
      |lv AS (
      |  SELECT 0 AS level_id, md5(text) AS fp FROM corpus
      |  UNION ALL
      |  SELECT 1, md5(lower(text)) FROM corpus
      |  UNION ALL
      |  SELECT 2, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
      |  FROM corpus
      |  UNION ALL
      |  SELECT 3, md5(regexp_replace(trim(
      |    regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g')),
      |    '\s+', ' ', 'g'))
      |  FROM corpus),
      |census AS (
      |  SELECT level_id, fp, COUNT(*) AS cnt FROM lv GROUP BY 1, 2),
      |per AS (
      |  SELECT level_id, CAST(SUM(cnt) AS BIGINT) AS n_docs,
      |    COUNT(*) AS n_distinct,
      |    CAST(SUM(cnt - 1) AS BIGINT) AS dup_docs,
      |    CAST(SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_dup_groups
      |  FROM census GROUP BY 1)
      |SELECT CAST(p.level_id AS BIGINT) AS level_id,
      |  CASE p.level_id WHEN 0 THEN 'raw' WHEN 1 THEN 'casefold'
      |    WHEN 2 THEN 'whitespace' ELSE 'punct_strip' END AS level,
      |  p.n_docs, p.n_distinct, p.dup_docs, p.n_dup_groups,
      |  p.dup_docs - COALESCE(q.dup_docs, 0) AS marginal_dups,
      |  round(CAST(p.dup_docs AS DOUBLE) / CAST(p.n_docs AS DOUBLE), 6)
      |    + 0.0 AS dup_share
      |FROM per p LEFT JOIN per q ON q.level_id = p.level_id - 1
      |ORDER BY p.level_id""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q411_normalization_ladder", q411NormalizationLadder _, q411Sql),
    Query("q283_dup_by_length", q283DupByLength _, q283Sql),
    Query("q281_lsh_calibration", q281LshCalibration _, q281Sql),
    Query("q269_dup_flow_matrix", q269DupFlowMatrix _, q269Sql),
    Query("q251_code_switch", q251CodeSwitch _, q251Sql),
    Query("q240_boilerplate_shingles", q240BoilerplateShingles _, q240Sql),
    Query("q230_dedup_savings", q230DedupSavings _, q230Sql),
    Query("q211_dedup_venn", q211DedupVenn _, q211Sql),
    Query("q19_exact_dup_docs", q19ExactDupDocs _, q19Sql),
    Query("q20_text_stats", q20TextStats _, q20Sql),
    Query("q22_near_dup_minhash", q22NearDupMinhash _, q22Sql),
    Query("q23_doc_quality", q23DocQuality _, q23Sql),
    Query("q24_lang_id", q24LangId _, q24Sql),
    Query("q25_fingerprint", q25Fingerprint _, q25Sql),
    Query("q27_simhash_near_dup", q27SimhashNearDup _, q27Sql),
    Query("q31_token_analysis", q31TokenAnalysis _, q31Sql),
    Query("q32_ngram_jaccard", q32NgramJaccard _, q32Sql),
    Query("q35_langid_ngram", q35LangIdNgram _, q35Sql),
    Query("q330_langid_kappa", q330LangidKappa _, q330Sql),
    Query("q41_sketch_profile", q41SketchProfile _, q41Sql),
    Query("q42_corpus_curation", q42CorpusCuration _, q42Sql),
    Query("q389_sig_calibration", q389SigLengthCalibration _, q389Sql),
    Query("q58_exact_profile", q58ExactProfile _, q58Sql))
}
