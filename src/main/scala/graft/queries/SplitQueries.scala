package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.ExactMath.r6

/** Consistent train/val/test splitting and mixture-weighted sampling —
  * the dataset-composition primitives of a training-data pipeline.
  * Extension scope (no reference twin; the reference has no notion of
  * splits or mixtures).
  *
  * The split is a pure function of the document key: hash the key with a
  * salt ("split:" prefix, so re-keying for a different experiment is just
  * a different salt) and bucket on the md5 hex prefix by STRING range —
  * `00..cb` train (204/256 ≈ 79.7%), `cc..e5` val (26/256 ≈ 10.2%),
  * `e6..ff` test. Range-on-hex rather than hex→int mod keeps the rule
  * bit-identical across engines with no integer-parsing dialect
  * differences. Properties that matter at 100 TB: stateless (no lookup
  * table, no shuffle to assign — a narrow projection), stable under
  * corpus growth (a doc's split never changes when others are added),
  * and join-free to reproduce anywhere the key exists.
  *
  * q46 emits the per-(lang, split) census — row counts, average length,
  * and each split's within-language fraction — which is also the
  * stratification check: a consistent hash split is stratified across any
  * attribute independent of the key.
  */
object SplitQueries {

  /** Split-assignment column: deterministic train/val/test from any
    * string key. */
  def splitFor(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h2 = substring(md5(concat(lit("split:"), key)), 1, 2)
    when(h2 < "cc", "train").when(h2 < "e6", "val").otherwise("test")
  }

  /** Target mixture weights: the fraction of each language's documents to
    * keep. Literal in both engines; a production pipeline feeds these from
    * its mixture config. */
  val MixRates: Seq[(String, Double)] = Seq(
    "de" -> 0.5, "en" -> 1.0, "es" -> 0.25, "fr" -> 0.75, "zh" -> 0.1)

  // ---------------------------------------------------------------- q52
  /** Mixture-weighted consistent sampling ("data mixing"): keep each doc
    * iff its salted hash fraction falls below the language's target rate.
    * Same stateless-hash family as [[splitFor]] and the q38/q46 samplers:
    * no shuffle to assign, stable under corpus growth (a doc's keep
    * decision never changes when other docs arrive), reproducible
    * anywhere the key exists — and rate changes are monotone (raising a
    * rate only ADDS docs, it never swaps the kept set), which is what
    * makes mixture re-weighting between training runs incremental instead
    * of a reshuffle of the corpus. The rollup reports kept doc/token
    * counts and realized vs target rate per language. */
  def q52MixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val u = graft.functions.TextFunctions
      .md5Hash60(concat(lit("mix:"), col("doc_id").cast("string")))
      .cast("double") / lit(1152921504606846976.0) // 2^60
    val rate = MixRates.foldLeft(lit(0.0)) { case (acc, (l, r)) =>
      when(col("lang") === l, r).otherwise(acc)
    }
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
      .withColumn("kept", (u < rate).cast("int"))
      .withColumn("toks", graft.functions.TextFunctions.tokenCount(col("text")))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_kept"),
        sum(col("kept") * col("toks")).as("kept_tokens"),
        (sum(col("kept")).cast("double") / count(lit(1))).as("realized_rate"))
      .withColumn("target_rate",
        MixRates.foldLeft(lit(0.0)) { case (acc, (l, r)) =>
          when(col("lang") === l, r).otherwise(acc)
        })
      .orderBy("lang")
  }

  val q52Sql: String = {
    // CAST: DuckDB types a CASE of numeric literals as DECIMAL; the keep
    // comparison must run double-vs-double or exact-decimal 0.1 and the
    // double 0.1 Spark compares against would disagree near the boundary
    val rateCase = MixRates
      .map { case (l, r) => s"WHEN '$l' THEN $r" }
      .mkString("CAST(CASE lang ", " ", " ELSE 0.0 END AS DOUBLE)")
    s"""WITH d AS (
       |  SELECT lang,
       |    CASE WHEN ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |              / 1152921504606846976.0 < ($rateCase)
       |         THEN 1 ELSE 0 END AS kept,
       |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS INTEGER) AS toks
       |  FROM documents)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(kept) AS BIGINT) AS n_kept,
       |  CAST(SUM(kept * toks) AS BIGINT) AS kept_tokens,
       |  CAST(SUM(kept) AS DOUBLE) / COUNT(*) AS realized_rate,
       |  ($rateCase) AS target_rate
       |FROM d GROUP BY lang ORDER BY lang""".stripMargin
  }

  // --------------------------------------------------------------- q181
  /** Cross-split contamination audit: how many EXACT-DUPLICATE document
    * pairs straddle the q46 train/val/test boundary? A hash split
    * assigns duplicates independently, so a corpus with unremoved dups
    * leaks test content into training — the classic eval-inflation bug
    * this query counts BEFORE anyone trains. Output is the 6-cell pair
    * census (within- and cross-split) over q19's fingerprint groups.
    *
    * The count never enumerates pairs: per fingerprint, the per-split
    * membership counts (nt, nv, ns) give within-pairs n(n−1)/2 and
    * cross-pairs nᵢ·nⱼ arithmetically — the census discipline (q150),
    * so a pathological million-copy document costs one row, not 10¹²
    * pairs. Cross-split cells > 0 on this corpus (the fixture's
    * injected dups split across buckets) — the audit FINDS leakage, and
    * q19's dedup-before-split is the fix it motivates.
    *
    * Scale shape: one hash shuffle keyed by the 128-bit fingerprint
    * (q19's plan), one map-combinable global agg to 6 numbers, stacked
    * to rows. All-integer output: hash-safe. */
  def q181SplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    // q19's dup-injected corpus (the raw fixture is dup-free): clones get
    // doc_id + 100000, so the hash split scatters them across buckets —
    // exactly the leakage a real undeduped crawl exhibits
    val d = DocQueries.corpusWithExactDups(spark, dir)
      .select(col("doc_id"),
        splitFor(col("doc_id").cast("string")).as("split"),
        graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
    val perFp = d.groupBy(col("fp")).agg(
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("nt"),
      sum(when(col("split") === "val", 1L).otherwise(0L)).as("nv"),
      sum(when(col("split") === "test", 1L).otherwise(0L)).as("ns"))
    perFp.agg(
        sum(col("nt") * (col("nt") - 1) / 2).cast("long").as("tt"),
        sum(col("nv") * (col("nv") - 1) / 2).cast("long").as("vv"),
        sum(col("ns") * (col("ns") - 1) / 2).cast("long").as("ss"),
        sum(col("nt") * col("nv")).as("tv"),
        sum(col("nt") * col("ns")).as("ts"),
        sum(col("nv") * col("ns")).as("vs"))
      .selectExpr(
        """stack(6,
          |  'train', 'train', tt,
          |  'train', 'val',   tv,
          |  'train', 'test',  ts,
          |  'val',   'val',   vv,
          |  'val',   'test',  vs,
          |  'test',  'test',  ss) AS (split_a, split_b, n_dup_pairs)
          |""".stripMargin)
      .orderBy("split_a", "split_b")
  }

  val q181Sql: String =
    s"""WITH corpus AS (${DocQueries.corpusDupSql}),
      |d AS (
      |  SELECT doc_id,
      |    CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
      |           < 'cc' THEN 'train'
      |         WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
      |           < 'e6' THEN 'val'
      |         ELSE 'test' END AS split,
      |    md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
      |  FROM corpus),
      |g AS (
      |  SELECT fp,
      |    SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS nt,
      |    SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS nv,
      |    SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS ns
      |  FROM d GROUP BY fp),
      |s AS (
      |  SELECT
      |    CAST(SUM(nt * (nt - 1) / 2) AS BIGINT) AS tt,
      |    CAST(SUM(nv * (nv - 1) / 2) AS BIGINT) AS vv,
      |    CAST(SUM(ns * (ns - 1) / 2) AS BIGINT) AS ss,
      |    CAST(SUM(nt * nv) AS BIGINT) AS tv,
      |    CAST(SUM(nt * ns) AS BIGINT) AS ts,
      |    CAST(SUM(nv * ns) AS BIGINT) AS vs
      |  FROM g)
      |SELECT split_a, split_b, n_dup_pairs FROM (
      |  SELECT 'train' AS split_a, 'train' AS split_b, tt AS n_dup_pairs FROM s
      |  UNION ALL SELECT 'train', 'val', tv FROM s
      |  UNION ALL SELECT 'train', 'test', ts FROM s
      |  UNION ALL SELECT 'val', 'val', vv FROM s
      |  UNION ALL SELECT 'val', 'test', vs FROM s
      |  UNION ALL SELECT 'test', 'test', ss FROM s)
      |ORDER BY split_a, split_b""".stripMargin

  // --------------------------------------------------------------- q217
  /** Held-out out-of-vocabulary rate: build the vocabulary from the
    * TRAIN split ([[splitFor]]'s consistent hash) and measure what
    * fraction of VAL-split tokens (and distinct token types) it has
    * never seen. The generalization sibling of q97 (in-corpus coverage)
    * and q59 (in-corpus NLL): a high held-out OOV rate means the corpus
    * is too fragmented for its size and a tokenizer/vocab trained on it
    * will fray on fresh data.
    *
    * Exactness: all six measures are exact integer counts off one
    * (split, token) census; the two rates are single double divisions,
    * 6 dp, −0.0-guarded.
    *
    * Scale shape: one tokenize+explode pass → (split, token) hash agg;
    * the train vocab and val census join token-keyed (skinny string
    * keys); no window, no driver collection. */
  def q217OovRate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val tok = spark.read.parquet(s"$dir/documents.parquet")
      .filter(length(trim(col("text"))) > 0)
      .withColumn("split", splitFor(col("doc_id").cast("string")))
      .select(col("split"), explode(tokens(lower(col("text")))).as("token"))
    val trainVocab = tok.filter(col("split") === "train")
      .select(col("token")).distinct()
      .withColumn("known", lit(1))
    val valCensus = tok.filter(col("split") === "val")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val vocabSize = trainVocab.agg(count(lit(1)).as("train_vocab"))
    valCensus.join(trainVocab, Seq("token"), "left")
      .agg(
        sum(col("cnt")).as("val_tokens"),
        sum(when(col("known").isNull, col("cnt")).otherwise(lit(0L)))
          .as("val_oov_tokens"),
        count(lit(1)).as("val_types"),
        sum(when(col("known").isNull, 1L).otherwise(0L))
          .as("val_oov_types"))
      .crossJoin(broadcast(vocabSize))
      .select(
        col("train_vocab"), col("val_tokens"), col("val_oov_tokens"),
        (round(col("val_oov_tokens").cast("double") /
          col("val_tokens").cast("double"), 6) + lit(0.0))
          .as("oov_token_rate"),
        col("val_types"), col("val_oov_types"),
        (round(col("val_oov_types").cast("double") /
          col("val_types").cast("double"), 6) + lit(0.0))
          .as("oov_type_rate"))
  }

  val q217Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text,
      |    CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
      |           < 'cc' THEN 'train'
      |         WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
      |           < 'e6' THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents WHERE length(trim(text)) > 0),
      |tok AS (
      |  SELECT split,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM d),
      |tv AS (SELECT DISTINCT token FROM tok WHERE split = 'train'),
      |vc AS (SELECT token, COUNT(*) AS cnt FROM tok WHERE split = 'val'
      |       GROUP BY 1),
      |j AS (
      |  SELECT vc.cnt, tv.token IS NOT NULL AS known
      |  FROM vc LEFT JOIN tv ON vc.token = tv.token),
      |s AS (
      |  SELECT CAST(SUM(cnt) AS BIGINT) AS val_tokens,
      |    CAST(SUM(CASE WHEN known THEN 0 ELSE cnt END) AS BIGINT)
      |      AS val_oov_tokens,
      |    COUNT(*) AS val_types,
      |    CAST(SUM(CASE WHEN known THEN 0 ELSE 1 END) AS BIGINT)
      |      AS val_oov_types
      |  FROM j),
      |v AS (SELECT COUNT(*) AS train_vocab FROM tv)
      |SELECT train_vocab, val_tokens, val_oov_tokens,
      |  round(CAST(val_oov_tokens AS DOUBLE) / CAST(val_tokens AS DOUBLE),
      |    6) + 0.0 AS oov_token_rate,
      |  val_types, val_oov_types,
      |  round(CAST(val_oov_types AS DOUBLE) / CAST(val_types AS DOUBLE),
      |    6) + 0.0 AS oov_type_rate
      |FROM s, v""".stripMargin

  // --------------------------------------------------------------- q307
  /** Data-mixture WATER-FILLING allocation: distribute a training-token
    * budget (90% of corpus chars, the char count standing in for
    * tokens) across sources proportionally to desired mix weights,
    * respecting each source's availability cap — when a high-weight
    * source runs out, its unmet demand REDISTRIBUTES to the uncapped
    * sources, again by weight. This is the allocation step every LLM
    * data-mixture recipe runs after q52 (sampling) and q57 (quotas):
    * those enforce a mixture; this COMPUTES the feasible mixture when
    * availability binds. Desired weights are the deterministic
    * (source index mod 4)+1 grid so caps actually bind at fixture
    * scale.
    *
    * Five redistribution rounds are unrolled in BOTH engines (the
    * classical algorithm converges when no new source caps; the
    * fixtures converge in <= 4 rounds, measured per scale factor, and
    * the final allocation is least(share, available) so any deeper
    * non-convergence stays feasible and auditable via the capped
    * flag — Round12hSpec certifies feasibility and budget closure). ALL arithmetic is integer (floor-div shares;
    * remainders stay in `unallocated`), so the ledger is bit-exact.
    *
    * Scale shape: one source-keyed map-combinable agg; everything after
    * runs on the |sources| census via broadcast scalars. */
  def q307WaterFilling(spark: SparkSession, dir: String): DataFrame = {
    val av = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy(col("source"))
      .agg(sum(col("n_chars")).as("a"))
      .withColumn("w",
        (regexp_extract(col("source"), "(\\d+)", 1).cast("long") % 4L) + 1L)
    val t0 = av.agg(expr("(sum(a) * 9) div 10").as("t"),
      sum(col("w")).as("sw1"))
    // round 1 seeds the iteration; rounds 2..5 redistribute the budget
    // freed by newly capped sources (5 rounds: the fixtures converge in
    // <= 4, measured; the least() on the final allocation makes any
    // deeper non-convergence safe-by-construction and auditable via the
    // capped flag)
    var cur = av.crossJoin(broadcast(t0))
      .withColumn("b1", col("t"))
      .withColumn("share1", expr("(b1 * w) div sw1"))
      .withColumn("cap1", col("share1") >= col("a"))
    for (r <- 2 to 5) {
      val (pb, pc, ps) = (s"b${r - 1}", s"cap${r - 1}", s"sw${r - 1}")
      val stats = cur.agg(
        sum(when(col(pc), col("a")).otherwise(0L)).as(s"capA$r"),
        sum(when(col(pc), 0L).otherwise(col("w"))).as(s"sw$r"))
      cur = cur.crossJoin(broadcast(stats))
        .withColumn(s"b$r", col("t") - col(s"capA$r"))
        .withColumn(s"share$r", expr(s"(b$r * w) div sw$r"))
        .withColumn(s"cap$r", col(pc) || col(s"share$r") >= col("a"))
    }
    val r5 = cur.withColumn("alloc",
      when(col("cap5"), col("a")).otherwise(least(col("share5"), col("a"))))
    val tot = r5.agg((max(col("t")) - sum(col("alloc"))).as("unallocated"))
    r5.crossJoin(broadcast(tot))
      .select(col("source"), col("w").as("weight"), col("a").as("available"),
        col("alloc").as("allocated"), col("cap5").as("capped"),
        col("t").as("target_budget"), col("unallocated"))
      .orderBy("source")
  }

  val q307Sql: String = {
    val rounds = (2 to 5).map { r =>
      val (pr, pc) = (r - 1, s"cap${r - 1}")
      s"""s$r AS (
         |  SELECT CAST(SUM(CASE WHEN $pc THEN a ELSE 0 END) AS BIGINT)
         |      AS capA$r,
         |    CAST(SUM(CASE WHEN $pc THEN 0 ELSE w END) AS BIGINT) AS sw$r
         |  FROM r$pr),
         |r$r AS (
         |  SELECT r$pr.*, t - capA$r AS b$r,
         |    ((t - capA$r) * w) // sw$r AS share$r,
         |    $pc OR ((t - capA$r) * w) // sw$r >= a AS cap$r
         |  FROM r$pr, s$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH av AS (
      |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS a,
      |    (CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT) % 4) + 1
      |      AS w
      |  FROM documents GROUP BY 1),
      |t0 AS (
      |  SELECT CAST((SUM(a) * 9) // 10 AS BIGINT) AS t,
      |    CAST(SUM(w) AS BIGINT) AS sw1
      |  FROM av),
      |r1 AS (
      |  SELECT av.*, t, t AS b1, (t * w) // sw1 AS share1,
      |    (t * w) // sw1 >= a AS cap1
      |  FROM av, t0),
      |$rounds,
      |fin AS (
      |  SELECT r5.*,
      |    CASE WHEN cap5 THEN a ELSE LEAST(share5, a) END AS alloc
      |  FROM r5),
      |tot AS (
      |  SELECT CAST(MAX(t) - SUM(alloc) AS BIGINT) AS unallocated
      |  FROM fin)
      |SELECT source, w AS weight, a AS available,
      |  CAST(alloc AS BIGINT) AS allocated, cap5 AS capped,
      |  t AS target_budget, unallocated
      |FROM fin, tot ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------- q373
  /** Temperature-scaled mixture weights (τ = 2) — the standard
    * multilingual/multi-source rebalancing rule (sample source s with
    * probability ∝ massₛ^(1/τ)) that q52's fixed rates and q307's
    * water-filling both presuppose someone has already chosen: raw
    * proportional sampling starves small sources, uniform sampling
    * drowns in epochs over them; τ between 1 and ∞ interpolates. τ = 2
    * makes the exponent a SQUARE ROOT — the one power both engines
    * compute correctly-rounded, so no pow/exp-ln chain enters the
    * hash. Per source: raw token share, the τ=2 share, the allocation
    * of a fixed 10⁹-token budget, and the effective epochs (>1 means
    * the source repeats — the overfitting signal temperature tuning
    * watches).
    *
    * Exactness: token masses are exact integers; each √mass is one
    * correctly-rounded IEEE sqrt snapped at 9 dp into DECIMAL(28,9),
    * so the normalizing sum is order-free exact decimal; shares,
    * allocations (floor of identical doubles), and epochs snap at
    * 6 dp.
    *
    * Scale shape: one map-combinable per-source token census (the
    * |sources|-row frame); everything after is census arithmetic
    * against one broadcast totals row. */
  def q373TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    val census = Kpis.table(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(sum(tokenCount(col("text")).cast("long")).as("toks"))
      .withColumn("sq", round(sqrt(col("toks").cast("double")), 9)
        .cast("decimal(28,9)"))
    val tot = census.agg(sum(col("toks")).as("tot_toks"),
      sum(col("sq")).as("tot_sq"))
    val B = lit(1000000000L)
    val dbl = (c: String) => col(c).cast("double")
    val shareT2 = dbl("sq") / dbl("tot_sq")
    census.crossJoin(broadcast(tot))
      .select(col("source"), col("toks").as("tokens_s"),
        (round(dbl("toks") / dbl("tot_toks"), 6) + lit(0.0))
          .as("share_raw"),
        (round(shareT2, 6) + lit(0.0)).as("share_tau2"),
        floor(shareT2 * B.cast("double")).cast("long")
          .as("alloc_tokens_1b"),
        (round(floor(shareT2 * B.cast("double")) / dbl("toks"), 6) +
          lit(0.0)).as("effective_epochs"))
      .orderBy("source")
  }

  val q373Sql: String =
    """WITH census AS (
      |  SELECT source,
      |    CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
      |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END)
      |      AS BIGINT) AS toks
      |  FROM documents GROUP BY 1),
      |c2 AS (
      |  SELECT *, CAST(round(sqrt(CAST(toks AS DOUBLE)), 9)
      |    AS DECIMAL(28,9)) AS sq
      |  FROM census),
      |tot AS (
      |  SELECT CAST(SUM(toks) AS BIGINT) AS tot_toks, SUM(sq) AS tot_sq
      |  FROM c2)
      |SELECT source, toks AS tokens_s,
      |  round(CAST(toks AS DOUBLE) / CAST(tot_toks AS DOUBLE), 6) + 0.0
      |    AS share_raw,
      |  round(CAST(sq AS DOUBLE) / CAST(tot_sq AS DOUBLE), 6) + 0.0
      |    AS share_tau2,
      |  CAST(floor(CAST(sq AS DOUBLE) / CAST(tot_sq AS DOUBLE)
      |    * 1000000000.0) AS BIGINT) AS alloc_tokens_1b,
      |  round(floor(CAST(sq AS DOUBLE) / CAST(tot_sq AS DOUBLE)
      |    * 1000000000.0) / CAST(toks AS DOUBLE), 6) + 0.0
      |    AS effective_epochs
      |FROM c2, tot ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q433
  /** Mixture-MATERIALIZATION certificate (VERDICT r15 #3) — the sampling
    * analog of q392's rewrite certification: q373 computes the τ=2
    * temperature weights, [[graft.operators.WeightedSample]] proves the
    * deterministic-hash sampling primitive, but nothing had materialized
    * a sampled training mixture and certified the REALIZED per-source
    * token shares against the target. This query does: per source, the
    * τ=2 allocation of a 60%-of-corpus token budget is materialized as a
    * greedy prefix of the source's documents in deterministic md5-hash
    * order (a uniform random permutation, replayable bit-exactly — the
    * A-ES key at equal weights), and the certificate row pins the exact
    * realized token mass, the overshoot, and the EXACT bound the greedy
    * prefix guarantees: alloc ≤ realized < alloc + boundary-doc tokens
    * (or realized = everything for sources whose τ=2 upsampling exceeds
    * their supply — the capped / effective-epochs>1 case q373 flags).
    * `bound_ok` is the certificate: any drift in the sampler, the hash,
    * or the census breaks an integer column, not just a 6-dp share.
    *
    * Exactness: token masses, cumulative sums, allocations (floor of the
    * q373-spelled share double × an integer budget), counts, overshoots,
    * and both bound flags are all integer; the three share columns are
    * single 6-dp-snapped divisions of exact integers (and the q373
    * decimal-sqrt normalizer, the proven spelling).
    *
    * Scale shape: one per-doc token census, then ONE
    * [[graft.operators.RangeRank.withRunningSum]] range shuffle over the
    * global (source, u, doc_id) order, lifted to per-source running sums
    * by subtracting the ≤|sources| exclusive-prefix census (the q428
    * offset-lift — the census window is |sources|-bounded, pinned in
    * WindowGuardSpec); selection is a per-row comparison against the
    * broadcast |sources|-row allocation table, and the certificate is a
    * map-combinable per-source aggregate. No per-source doc-scale window
    * anywhere. */
  def q433MixtureCert(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{md5Hash60, tokenCount}
    val docs = Kpis.table(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"),
        tokenCount(col("text")).cast("long").as("n"),
        md5Hash60(concat(lit("mix"), col("doc_id").cast("string")))
          .as("u"))
    val dbl = (c: String) => col(c).cast("double")
    // per-source census → τ=2 allocations of B = 60% of corpus tokens
    // (q373's exact decimal-sqrt spelling, so the weights ARE q373's)
    val census = docs.groupBy(col("source")).agg(sum(col("n")).as("toks"))
      .withColumn("sq", round(sqrt(col("toks").cast("double")), 9)
        .cast("decimal(28,9)"))
    val tot = census.agg(sum(col("toks")).as("tot_toks"),
      sum(col("sq")).as("tot_sq"))
    val alloc = census.crossJoin(broadcast(tot))
      .withColumn("alloc",
        floor(dbl("sq") / dbl("tot_sq") *
          expr("CAST((tot_toks * 3) div 5 AS DOUBLE)")).cast("long"))
    // ONE RangeRank running-sum pass over (source, u, doc_id), lifted to
    // per-source cumulative token mass via the exclusive source prefix
    val ranked = graft.operators.RangeRank.withRunningSum(
      docs, col("n"), "gcum", Seq(col("source"), col("u"), col("doc_id")))
    val offs = census.select(col("source"), col("toks"))
      .withColumn("coff", coalesce(sum(col("toks")).over(
        Window.orderBy(col("source"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("coff"))
    // greedy prefix: a doc is sampled iff its source-local EXCLUSIVE
    // cumulative mass is still under the allocation (so the boundary doc
    // that crosses the line is included — the overshoot the bound pins)
    val sel = ranked.join(broadcast(offs), "source")
      .withColumn("cum", col("gcum") - col("coff"))
      .join(broadcast(alloc.select(col("source"), col("alloc"))), "source")
      .filter(col("cum") - col("n") < col("alloc"))
    val per = sel.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_sampled"),
        sum(col("n")).as("realized_tokens"),
        max(struct(col("cum"), col("n"))).as("last"))
      .select(col("source"), col("n_docs_sampled"), col("realized_tokens"),
        col("last").getField("n").as("boundary_tokens"))
    val j = alloc.join(per, Seq("source"), "left")
      .withColumn("n_docs_sampled", coalesce(col("n_docs_sampled"), lit(0L)))
      .withColumn("realized_tokens", coalesce(col("realized_tokens"), lit(0L)))
    val totReal = j.agg(sum(col("realized_tokens")).as("tot_realized"))
    j.crossJoin(broadcast(totReal))
      .select(col("source"), col("toks").as("tokens_s"),
        (round(dbl("sq") / dbl("tot_sq"), 6) + lit(0.0)).as("target_share"),
        col("alloc").as("target_tokens"),
        col("n_docs_sampled"), col("realized_tokens"),
        (col("realized_tokens") - col("alloc")).as("overshoot"),
        (col("alloc") >= col("toks")).cast("int").as("capped"),
        when(col("alloc") >= col("toks"),
          (col("realized_tokens") === col("toks")).cast("int"))
          .otherwise((col("realized_tokens") >= col("alloc") &&
            col("realized_tokens") - col("alloc") <
              coalesce(col("boundary_tokens"), lit(Long.MaxValue)))
            .cast("int"))
          .as("bound_ok"),
        (round(dbl("realized_tokens") / dbl("tot_realized"), 6) + lit(0.0))
          .as("realized_share"),
        (round(abs(dbl("realized_tokens") / dbl("tot_realized") -
          dbl("sq") / dbl("tot_sq")), 6) + lit(0.0)).as("share_abs_err"))
      .orderBy("source")
  }

  val q433Sql: String =
    """WITH docs AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
      |      AS n,
      |    ('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 15))
      |      ::BIGINT AS u
      |  FROM documents WHERE length(trim(text)) > 0),
      |census AS (
      |  SELECT source, CAST(SUM(n) AS BIGINT) AS toks,
      |    CAST(round(sqrt(CAST(SUM(n) AS DOUBLE)), 9) AS DECIMAL(28,9))
      |      AS sq
      |  FROM docs GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(toks) AS BIGINT) AS tot_toks, SUM(sq) AS tot_sq
      |  FROM census),
      |alloc AS (
      |  SELECT source, toks, sq,
      |    CAST(floor(CAST(sq AS DOUBLE) / CAST(tot_sq AS DOUBLE)
      |      * CAST((tot_toks * 3) // 5 AS DOUBLE)) AS BIGINT) AS alloc
      |  FROM census, tot),
      |cums AS (
      |  SELECT source, doc_id, n,
      |    SUM(n) OVER (PARTITION BY source ORDER BY u, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM docs),
      |sel AS (
      |  SELECT c.* FROM cums c JOIN alloc a USING (source)
      |  WHERE c.cum - c.n < a.alloc),
      |per AS (
      |  SELECT source, COUNT(*) AS n_docs_sampled,
      |    CAST(SUM(n) AS BIGINT) AS realized_tokens,
      |    CAST(max_by(n, cum) AS BIGINT) AS boundary_tokens
      |  FROM sel GROUP BY 1),
      |j AS (
      |  SELECT a.source, a.toks, a.sq, a.alloc,
      |    CAST(COALESCE(p.n_docs_sampled, 0) AS BIGINT) AS n_docs_sampled,
      |    CAST(COALESCE(p.realized_tokens, 0) AS BIGINT)
      |      AS realized_tokens,
      |    p.boundary_tokens
      |  FROM alloc a LEFT JOIN per p USING (source)),
      |tr AS (
      |  SELECT CAST(SUM(realized_tokens) AS BIGINT) AS tot_realized
      |  FROM j)
      |SELECT source, toks AS tokens_s,
      |  round(CAST(sq AS DOUBLE) / CAST(tot_sq AS DOUBLE), 6) + 0.0
      |    AS target_share,
      |  alloc AS target_tokens, n_docs_sampled, realized_tokens,
      |  realized_tokens - alloc AS overshoot,
      |  CAST(CASE WHEN alloc >= toks THEN 1 ELSE 0 END AS INTEGER)
      |    AS capped,
      |  CAST(CASE WHEN alloc >= toks
      |    THEN CASE WHEN realized_tokens = toks THEN 1 ELSE 0 END
      |    ELSE CASE WHEN realized_tokens >= alloc
      |      AND realized_tokens - alloc
      |        < COALESCE(boundary_tokens, 9223372036854775807)
      |      THEN 1 ELSE 0 END
      |    END AS INTEGER) AS bound_ok,
      |  round(CAST(realized_tokens AS DOUBLE)
      |    / CAST(tot_realized AS DOUBLE), 6) + 0.0 AS realized_share,
      |  round(abs(CAST(realized_tokens AS DOUBLE)
      |      / CAST(tot_realized AS DOUBLE)
      |    - CAST(sq AS DOUBLE) / CAST(tot_sq AS DOUBLE)), 6) + 0.0
      |    AS share_abs_err
      |FROM j, tot, tr ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q439
  /** Incremental mixture RE-certification (VERDICT r16 #4) — the
    * [[graft.operators.IncrementalRollup]] discipline applied to q433:
    * appending a corpus delta changes every τ=2 allocation (the
    * temperature weights couple all sources through the normalizer), so
    * the mixture must be re-cut and re-certified — WITHOUT re-scanning
    * the base corpus text. The base generation persists its slim INDEX
    * (doc_id, source, n, u — two longs and a string per document, built
    * once by q433's derivation); the re-certification reads that index,
    * text-scans ONLY the delta (every doc ≡ 2 mod 5 re-crawled as a new
    * doc at +1e12 with a 3-token tail — mass shifts, not just
    * identity), merges censuses (base census + delta-only census),
    * recomputes the τ=2 allocations of the NEW 60% budget, and re-cuts
    * the greedy prefixes over the merged index in the same
    * deterministic (u, doc_id) order — delta docs interleave into the
    * permutation wherever their hash lands, so membership genuinely
    * reshuffles. The certificate row per source carries the old→new
    * allocation shift, how many delta docs entered the prefix, and
    * q433's exact bound (alloc ≤ realized < alloc + boundary-doc
    * tokens; capped sources realize everything).
    *
    * Exactness: q433's discipline verbatim — integer masses/allocs/
    * counts/flags, 6-dp-snapped shares, the decimal-sqrt normalizer.
    *
    * Scale shape: the delta text scan is DELTA-proportional; the index
    * re-rank is ONE RangeRank range shuffle over the merged index
    * (orders of magnitude below corpus text mass) with the ≤|sources|
    * offset census lift; everything else is broadcast-sized. */
  def q439MixtureDelta(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{md5Hash60, tokenCount}
    val dbl = (c: String) => col(c).cast("double")
    val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
    val idxPath =
      s"${System.getProperty("java.io.tmpdir")}/graft_q439_idx$slug"
    // phase 1 — the persisted base index (the per-generation artifact)
    Kpis.table(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"),
        tokenCount(col("text")).cast("long").as("n"),
        md5Hash60(concat(lit("mix"), col("doc_id").cast("string")))
          .as("u"))
      .write.mode("overwrite").parquet(idxPath)
    val base = spark.read.parquet(idxPath)
    // phase 2 — delta-only text scan + index-level re-certification
    val delta = Kpis.table(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0 && col("doc_id") % 5 === 2)
      .select((col("doc_id") + lit(1000000000000L)).as("doc_id"),
        col("source"),
        (tokenCount(col("text")) + lit(3)).cast("long").as("n"))
      .withColumn("u",
        md5Hash60(concat(lit("mix"), col("doc_id").cast("string"))))
    val docs = base.unionAll(delta.select("doc_id", "source", "n", "u"))
    val cbase = base.groupBy(col("source"))
      .agg(sum(col("n")).as("toks_base"))
    val cdelta = delta.groupBy(col("source"))
      .agg(sum(col("n")).as("toks_delta"))
    val census = cbase.join(cdelta, Seq("source"), "left")
      .select(col("source"), col("toks_base"),
        coalesce(col("toks_delta"), lit(0L)).as("toks_delta"))
      .withColumn("toks", col("toks_base") + col("toks_delta"))
      .withColumn("sq", round(sqrt(col("toks").cast("double")), 9)
        .cast("decimal(28,9)"))
    val tot = census.agg(sum(col("toks")).as("tot_toks"),
      sum(col("sq")).as("tot_sq"))
    val alloc = census.crossJoin(broadcast(tot))
      .withColumn("alloc",
        floor(dbl("sq") / dbl("tot_sq") *
          expr("CAST((tot_toks * 3) div 5 AS DOUBLE)")).cast("long"))
    // the OLD allocation (base-only census) for the shift column
    val cb2 = cbase.withColumn("sqb",
      round(sqrt(col("toks_base").cast("double")), 9)
        .cast("decimal(28,9)"))
    val totb = cb2.agg(sum(col("toks_base")).as("tb"),
      sum(col("sqb")).as("tsb"))
    val allocOld = cb2.crossJoin(broadcast(totb))
      .select(col("source"),
        floor(col("sqb").cast("double") / col("tsb").cast("double") *
          expr("CAST((tb * 3) div 5 AS DOUBLE)")).cast("long")
          .as("alloc_old"))
    // re-cut: ONE RangeRank pass over the merged index (q433's lift)
    val ranked = graft.operators.RangeRank.withRunningSum(
      docs, col("n"), "gcum", Seq(col("source"), col("u"), col("doc_id")))
    val offs = census.select(col("source"), col("toks"))
      .withColumn("coff", coalesce(sum(col("toks")).over(
        Window.orderBy(col("source"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("coff"))
    val sel = ranked.join(broadcast(offs), "source")
      .withColumn("cum", col("gcum") - col("coff"))
      .join(broadcast(alloc.select(col("source"), col("alloc"))), "source")
      .filter(col("cum") - col("n") < col("alloc"))
    val per = sel.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_sampled"),
        sum(when(col("doc_id") >= 1000000000000L, 1L).otherwise(0L))
          .as("n_delta_docs_sampled"),
        sum(col("n")).as("realized_tokens"),
        max(struct(col("cum"), col("n"))).as("last"))
      .select(col("source"), col("n_docs_sampled"),
        col("n_delta_docs_sampled"), col("realized_tokens"),
        col("last").getField("n").as("boundary_tokens"))
    val j = alloc.join(broadcast(allocOld), "source")
      .join(per, Seq("source"), "left")
      .withColumn("n_docs_sampled",
        coalesce(col("n_docs_sampled"), lit(0L)))
      .withColumn("n_delta_docs_sampled",
        coalesce(col("n_delta_docs_sampled"), lit(0L)))
      .withColumn("realized_tokens",
        coalesce(col("realized_tokens"), lit(0L)))
    val totReal = j.agg(sum(col("realized_tokens")).as("tot_realized"))
    j.crossJoin(broadcast(totReal))
      .select(col("source"), col("toks_base").as("tokens_base"),
        col("toks_delta").as("tokens_delta"),
        (round(dbl("sq") / dbl("tot_sq"), 6) + lit(0.0))
          .as("target_share"),
        col("alloc").as("target_tokens"),
        (col("alloc") - col("alloc_old")).as("alloc_shift"),
        col("n_docs_sampled"), col("n_delta_docs_sampled"),
        col("realized_tokens"),
        (col("realized_tokens") - col("alloc")).as("overshoot"),
        (col("alloc") >= col("toks")).cast("int").as("capped"),
        when(col("alloc") >= col("toks"),
          (col("realized_tokens") === col("toks")).cast("int"))
          .otherwise((col("realized_tokens") >= col("alloc") &&
            col("realized_tokens") - col("alloc") <
              coalesce(col("boundary_tokens"), lit(Long.MaxValue)))
            .cast("int"))
          .as("bound_ok"),
        (round(dbl("realized_tokens") / dbl("tot_realized"), 6) +
          lit(0.0)).as("realized_share"),
        (round(abs(dbl("realized_tokens") / dbl("tot_realized") -
          dbl("sq") / dbl("tot_sq")), 6) + lit(0.0)).as("share_abs_err"))
      .orderBy("source")
  }

  val q439Sql: String =
    """WITH base AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
      |      AS n,
      |    ('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 15))
      |      ::BIGINT AS u
      |  FROM documents WHERE length(trim(text)) > 0),
      |delta AS (
      |  SELECT doc_id, source, n,
      |    ('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 15))
      |      ::BIGINT AS u
      |  FROM (
      |    SELECT doc_id + 1000000000000 AS doc_id, source,
      |      CAST(len(regexp_split_to_array(trim(text), '\s+')) + 3
      |        AS BIGINT) AS n
      |    FROM documents
      |    WHERE length(trim(text)) > 0 AND doc_id % 5 = 2)),
      |docs AS (SELECT * FROM base UNION ALL SELECT * FROM delta),
      |cbase AS (
      |  SELECT source, CAST(SUM(n) AS BIGINT) AS toks_base
      |  FROM base GROUP BY 1),
      |cdelta AS (
      |  SELECT source, CAST(SUM(n) AS BIGINT) AS toks_delta
      |  FROM delta GROUP BY 1),
      |census AS (
      |  SELECT b.source, b.toks_base,
      |    CAST(COALESCE(d.toks_delta, 0) AS BIGINT) AS toks_delta,
      |    b.toks_base + COALESCE(d.toks_delta, 0) AS toks,
      |    CAST(round(sqrt(CAST(b.toks_base + COALESCE(d.toks_delta, 0)
      |      AS DOUBLE)), 9) AS DECIMAL(28,9)) AS sq
      |  FROM cbase b LEFT JOIN cdelta d USING (source)),
      |tot AS (
      |  SELECT CAST(SUM(toks) AS BIGINT) AS tot_toks, SUM(sq) AS tot_sq
      |  FROM census),
      |alloc AS (
      |  SELECT source, toks_base, toks_delta, toks, sq,
      |    CAST(floor(CAST(sq AS DOUBLE) / CAST(tot_sq AS DOUBLE)
      |      * CAST((tot_toks * 3) // 5 AS DOUBLE)) AS BIGINT) AS alloc
      |  FROM census, tot),
      |cb2 AS (
      |  SELECT source, toks_base,
      |    CAST(round(sqrt(CAST(toks_base AS DOUBLE)), 9)
      |      AS DECIMAL(28,9)) AS sqb
      |  FROM cbase),
      |totb AS (
      |  SELECT CAST(SUM(toks_base) AS BIGINT) AS tb, SUM(sqb) AS tsb
      |  FROM cb2),
      |alloc_old AS (
      |  SELECT source,
      |    CAST(floor(CAST(sqb AS DOUBLE) / CAST(tsb AS DOUBLE)
      |      * CAST((tb * 3) // 5 AS DOUBLE)) AS BIGINT) AS alloc_old
      |  FROM cb2, totb),
      |cums AS (
      |  SELECT source, doc_id, n,
      |    SUM(n) OVER (PARTITION BY source ORDER BY u, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM docs),
      |sel AS (
      |  SELECT c.* FROM cums c JOIN alloc a USING (source)
      |  WHERE c.cum - c.n < a.alloc),
      |per AS (
      |  SELECT source, COUNT(*) AS n_docs_sampled,
      |    CAST(SUM(CASE WHEN doc_id >= 1000000000000 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_delta_docs_sampled,
      |    CAST(SUM(n) AS BIGINT) AS realized_tokens,
      |    CAST(max_by(n, cum) AS BIGINT) AS boundary_tokens
      |  FROM sel GROUP BY 1),
      |j AS (
      |  SELECT a.source, a.toks_base, a.toks_delta, a.toks, a.sq,
      |    a.alloc, o.alloc_old,
      |    CAST(COALESCE(p.n_docs_sampled, 0) AS BIGINT)
      |      AS n_docs_sampled,
      |    CAST(COALESCE(p.n_delta_docs_sampled, 0) AS BIGINT)
      |      AS n_delta_docs_sampled,
      |    CAST(COALESCE(p.realized_tokens, 0) AS BIGINT)
      |      AS realized_tokens,
      |    p.boundary_tokens
      |  FROM alloc a JOIN alloc_old o USING (source)
      |  LEFT JOIN per p USING (source)),
      |tr AS (
      |  SELECT CAST(SUM(realized_tokens) AS BIGINT) AS tot_realized
      |  FROM j)
      |SELECT source, toks_base AS tokens_base, toks_delta AS tokens_delta,
      |  round(CAST(sq AS DOUBLE) / CAST(tot_sq AS DOUBLE), 6) + 0.0
      |    AS target_share,
      |  alloc AS target_tokens, alloc - alloc_old AS alloc_shift,
      |  n_docs_sampled, n_delta_docs_sampled, realized_tokens,
      |  realized_tokens - alloc AS overshoot,
      |  CAST(CASE WHEN alloc >= toks THEN 1 ELSE 0 END AS INTEGER)
      |    AS capped,
      |  CAST(CASE WHEN alloc >= toks
      |    THEN CASE WHEN realized_tokens = toks THEN 1 ELSE 0 END
      |    ELSE CASE WHEN realized_tokens >= alloc
      |      AND realized_tokens - alloc
      |        < COALESCE(boundary_tokens, 9223372036854775807)
      |      THEN 1 ELSE 0 END
      |    END AS INTEGER) AS bound_ok,
      |  round(CAST(realized_tokens AS DOUBLE)
      |    / CAST(tot_realized AS DOUBLE), 6) + 0.0 AS realized_share,
      |  round(abs(CAST(realized_tokens AS DOUBLE)
      |      / CAST(tot_realized AS DOUBLE)
      |    - CAST(sq AS DOUBLE) / CAST(tot_sq AS DOUBLE)), 6) + 0.0
      |    AS share_abs_err
      |FROM j, tot, tr ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q395
  /** Sequence-packing efficiency curve — the max_len decision table for
    * the packing operator (q47): for each candidate context length
    * (128/256/512/1024/2048), the cost of the two standard strategies.
    * One-doc-per-sequence: exact padding mass (and its fraction of the
    * grid) plus the token mass lost to truncation. Concat-and-split
    * packing: the exact sequence count ⌈total/max_len⌉ and its residual
    * pad fraction (only the last sequence pads). The gap between the
    * two pad columns is the wasted-compute price paid to avoid
    * cross-document attention contamination — the number the packing
    * decision actually weighs.
    *
    * Exactness: all masses are integer sums of per-doc min/max terms;
    * ⌈total/max_len⌉ is integer arithmetic ((total + ml − 1) div ml);
    * each fraction is ONE 6-dp-snapped division.
    *
    * Scale shape: ONE map-combinable aggregate over documents carrying
    * all five lengths as conditional sums (the q382 one-pass-sweep
    * discipline), then a 5-row stack of the 1-row result. No window,
    * no join, census-bounded output. */
  def q395PackingCurve(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    val mls = Seq(128L, 256L, 512L, 1024L, 2048L)
    val lens = spark.read.parquet(s"$dir/documents.parquet")
      .select(tokenCount(col("text")).cast("long").as("n"))
      .filter(col("n") > 0)
    val exprs = Seq(count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_tokens")) ++
      mls.flatMap(ml => Seq(
        sum(greatest(col("n") - lit(ml), lit(0L))).as(s"tr_$ml"),
        sum(lit(ml) - least(col("n"), lit(ml))).as(s"pd_$ml")))
    val a = lens.agg(exprs.head, exprs.tail: _*)
    val stacked = a.select(col("n_docs"), col("total_tokens"), expr(
      s"stack(${mls.length}, " + mls.map(ml =>
        s"${ml}L, tr_$ml, pd_$ml").mkString(", ") +
        ") as (max_len, tokens_truncated, pad_tokens)"))
    stacked
      .withColumn("n_seqs_packed",
        expr("(total_tokens + max_len - 1) div max_len"))
      .select(col("max_len"), col("n_docs"), col("total_tokens"),
        col("tokens_truncated"),
        r6(col("tokens_truncated").cast("double") /
          col("total_tokens").cast("double")).as("trunc_frac"),
        col("pad_tokens"),
        r6(col("pad_tokens").cast("double") /
          (col("n_docs") * col("max_len")).cast("double")).as("pad_frac"),
        col("n_seqs_packed"),
        r6((col("n_seqs_packed") * col("max_len") - col("total_tokens"))
          .cast("double") /
          (col("n_seqs_packed") * col("max_len")).cast("double"))
          .as("packed_pad_frac"))
      .orderBy("max_len")
  }

  val q395Sql: String =
    """WITH lens AS (
      |  SELECT CAST(len(regexp_split_to_array(trim(text), '\s+'))
      |    AS BIGINT) AS n
      |  FROM documents WHERE length(trim(text)) > 0),
      |ml(max_len) AS (
      |  VALUES (CAST(128 AS BIGINT)), (256), (512), (1024), (2048)),
      |per AS (
      |  SELECT m.max_len, COUNT(*) AS n_docs,
      |    CAST(SUM(n) AS BIGINT) AS total_tokens,
      |    CAST(SUM(GREATEST(n - m.max_len, 0)) AS BIGINT)
      |      AS tokens_truncated,
      |    CAST(SUM(m.max_len - LEAST(n, m.max_len)) AS BIGINT)
      |      AS pad_tokens
      |  FROM lens CROSS JOIN ml m GROUP BY 1)
      |SELECT max_len, n_docs, total_tokens, tokens_truncated,
      |  round(CAST(tokens_truncated AS DOUBLE)
      |    / CAST(total_tokens AS DOUBLE), 6) + 0.0 AS trunc_frac,
      |  pad_tokens,
      |  round(CAST(pad_tokens AS DOUBLE)
      |    / CAST(n_docs * max_len AS DOUBLE), 6) + 0.0 AS pad_frac,
      |  (total_tokens + max_len - 1) // max_len AS n_seqs_packed,
      |  round(CAST((total_tokens + max_len - 1) // max_len * max_len
      |      - total_tokens AS DOUBLE)
      |    / CAST((total_tokens + max_len - 1) // max_len * max_len
      |      AS DOUBLE), 6) + 0.0 AS packed_pad_frac
      |FROM per ORDER BY max_len""".stripMargin

  // --------------------------------------------------------------- q399
  /** NEAR-dup cross-split leakage — the contamination q181's exact
    * fingerprints cannot see: a test document whose near-clone (edited,
    * tail-padded, boilerplate-shifted) sits in train leaks evaluation
    * signal exactly as hard as an exact copy, and real crawls leak this
    * way far more often. Count q45's VERIFIED near-dup edges (Jaccard
    * ≥ 0.7, the registered operating point, on the q45 variant corpus)
    * by the split pair q46's consistent hash assigns their endpoints —
    * the same six-cell output shape as q181, so the exact and near
    * leakage tables read side by side. Off-diagonal train/test mass is
    * the evaluation-integrity hole a dedup-before-split pipeline
    * exists to close.
    *
    * Exactness: edges come from the q45-proven integer-set-size chain;
    * the split is the registered md5 rule; cell counts are exact
    * integers via order-normalized conditional sums (each unordered
    * pair counted once).
    *
    * Scale shape: q45's measured-linear candidate/verify plan + one
    * map-combinable 6-cell aggregate and a 6-row stack — strictly
    * cheaper than q45 itself (no CC rounds). */
  def q399NearDupLeakage(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.DupClusters
    val sh = DupClusters.q45ShingleTable(spark, dir)
    val edges = DupClusters.jaccardEdges(sh, 0.7)
      .select(splitFor(col("a").cast("string")).as("sa"),
        splitFor(col("b").cast("string")).as("sb"))
    def cell(x: String, y: String) =
      sum(when((col("sa") === x && col("sb") === y) ||
        (col("sa") === y && col("sb") === x), 1L).otherwise(0L))
    val out = edges.agg(
        cell("train", "train").as("tt"), cell("train", "val").as("tv"),
        cell("train", "test").as("ts"), cell("val", "val").as("vv"),
        cell("val", "test").as("vs"), cell("test", "test").as("ss"))
      .selectExpr(
        """stack(6,
          |  'train', 'train', tt,
          |  'train', 'val',   tv,
          |  'train', 'test',  ts,
          |  'val',   'val',   vv,
          |  'val',   'test',  vs,
          |  'test',  'test',  ss) AS (split_a, split_b, n_neardup_pairs)
          |""".stripMargin)
      .orderBy("split_a", "split_b")
      .localCheckpoint(true)
    sh.unpersist()
    out
  }

  val q399Sql: String = {
    val split = (c: String) =>
      s"""CASE WHEN substr(md5('split:' || CAST($c AS VARCHAR)), 1, 2)
         |           < 'cc' THEN 'train'
         |         WHEN substr(md5('split:' || CAST($c AS VARCHAR)), 1, 2)
         |           < 'e6' THEN 'val'
         |         ELSE 'test' END""".stripMargin
    s"""WITH
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
      |  FROM (SELECT id, regexp_split_to_array(trim(text), '\\s+') AS toks
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
      |sp AS (
      |  SELECT ${split("a")} AS sa,
      |    ${split("b")} AS sb
      |  FROM edges),
      |s AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN sa = 'train' AND sb = 'train' THEN 1 ELSE 0
      |      END) AS BIGINT) AS tt,
      |    CAST(SUM(CASE WHEN (sa = 'train' AND sb = 'val')
      |      OR (sa = 'val' AND sb = 'train') THEN 1 ELSE 0 END) AS BIGINT)
      |      AS tv,
      |    CAST(SUM(CASE WHEN (sa = 'train' AND sb = 'test')
      |      OR (sa = 'test' AND sb = 'train') THEN 1 ELSE 0 END) AS BIGINT)
      |      AS ts,
      |    CAST(SUM(CASE WHEN sa = 'val' AND sb = 'val' THEN 1 ELSE 0
      |      END) AS BIGINT) AS vv,
      |    CAST(SUM(CASE WHEN (sa = 'val' AND sb = 'test')
      |      OR (sa = 'test' AND sb = 'val') THEN 1 ELSE 0 END) AS BIGINT)
      |      AS vs,
      |    CAST(SUM(CASE WHEN sa = 'test' AND sb = 'test' THEN 1 ELSE 0
      |      END) AS BIGINT) AS ss
      |  FROM sp)
      |SELECT split_a, split_b, n_neardup_pairs FROM (
      |  SELECT 'train' AS split_a, 'train' AS split_b, tt
      |    AS n_neardup_pairs FROM s
      |  UNION ALL SELECT 'train', 'val', tv FROM s
      |  UNION ALL SELECT 'train', 'test', ts FROM s
      |  UNION ALL SELECT 'val', 'val', vv FROM s
      |  UNION ALL SELECT 'val', 'test', vs FROM s
      |  UNION ALL SELECT 'test', 'test', ss FROM s)
      |ORDER BY split_a, split_b""".stripMargin
  }

  // --------------------------------------------------------------- q407
  /** Sliding-window chunking ledger — the THIRD long-document strategy
    * beside q395's two (truncate-and-pad, concat-and-split): cut every
    * document into fixed windows of W tokens advancing by stride S,
    * padding only the final window, so no token is ever dropped and
    * boundary context is preserved by the W−S token overlap. The price
    * is DUPLICATED compute: every overlapped token is emitted in two or
    * more windows. For W = 32 (the fixture-scaled context; max doc is
    * 99 tokens) and S ∈ {32, 24, 16, 8}: exact window count, duplicated
    * token mass and its share of the corpus, final-window pad mass, and
    * the compute blow-up (device tokens per real token) — the stride
    * decision table, read against q395's pad/truncation columns.
    *
    * Exactness: pure integer arithmetic per document — the last window
    * start is L = ⌈(n−W)/S⌉·S via (n−W+S−1) div S, windows = L/S + 1,
    * pad = L+W−n, duplicated = windows·W − pad − n — summed exactly;
    * each share is ONE 6-dp-snapped division.
    *
    * Scale shape: ONE map-combinable aggregate over documents carrying
    * all four strides' conditional sums (the q382/q395 one-pass-sweep
    * discipline), then a 4-row stack of the 1-row result. No window
    * function, no join, census-bounded output. */
  def q407ChunkingLedger(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    val w = 32L
    val strides = Seq(32L, 24L, 16L, 8L)
    val lens = spark.read.parquet(s"$dir/documents.parquet")
      .select(tokenCount(col("text")).cast("long").as("n"))
      .filter(col("n") > 0)
    // last-window start / window count / pad / duplicated mass, all in
    // INTEGER arithmetic (Column./ is IEEE division — div via expr)
    val perStride = strides.map { s =>
      s -> expr(s"CASE WHEN n <= $w THEN 0L " +
        s"ELSE ((n - $w + $s - 1) div $s) * $s END")
    }
    val exprs = Seq(count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_tokens")) ++
      perStride.flatMap { case (s, l) =>
        val chunks = expr(s"ls_$s div $s") + lit(1L)
        val pad = col(s"ls_$s") + lit(w) - col("n")
        Seq(sum(chunks).as(s"ch_$s"), sum(pad).as(s"pd_$s"),
          sum(chunks * w - pad - col("n")).as(s"dp_$s"))
      }
    val a = perStride.foldLeft(lens) { case (df, (s, l)) =>
        df.withColumn(s"ls_$s", l)
      }.agg(exprs.head, exprs.tail: _*)
    a.select(col("n_docs"), col("total_tokens"), expr(
        s"stack(${strides.length}, " + strides.map(s =>
          s"${s}L, ch_$s, pd_$s, dp_$s").mkString(", ") +
          ") as (stride, n_chunks, pad_tokens, dup_tokens)"))
      .select(lit(w).as("window"), col("stride"), col("n_docs"),
        col("total_tokens"), col("n_chunks"), col("dup_tokens"),
        r6(col("dup_tokens").cast("double") /
          col("total_tokens").cast("double")).as("dup_share"),
        col("pad_tokens"),
        r6(col("pad_tokens").cast("double") /
          (col("n_chunks") * w).cast("double")).as("pad_share"),
        r6((col("n_chunks") * w).cast("double") /
          col("total_tokens").cast("double")).as("compute_blowup"))
      .orderBy(col("stride").desc)
  }

  val q407Sql: String =
    """WITH lens AS (
      |  SELECT CAST(len(regexp_split_to_array(trim(text), '\s+'))
      |    AS BIGINT) AS n
      |  FROM documents WHERE length(trim(text)) > 0),
      |st(stride) AS (
      |  VALUES (CAST(32 AS BIGINT)), (24), (16), (8)),
      |per AS (
      |  SELECT stride, COUNT(*) AS n_docs,
      |    CAST(SUM(n) AS BIGINT) AS total_tokens,
      |    CAST(SUM(ls // stride + 1) AS BIGINT) AS n_chunks,
      |    CAST(SUM(ls + 32 - n) AS BIGINT) AS pad_tokens,
      |    CAST(SUM((ls // stride + 1) * 32 - (ls + 32 - n) - n)
      |      AS BIGINT) AS dup_tokens
      |  FROM (SELECT n, s2.stride,
      |          CASE WHEN n <= 32 THEN 0
      |               ELSE ((n - 32 + s2.stride - 1) // s2.stride)
      |                 * s2.stride END AS ls
      |        FROM lens CROSS JOIN st s2) t
      |  GROUP BY 1)
      |SELECT CAST(32 AS BIGINT) AS window, stride, n_docs, total_tokens,
      |  n_chunks, dup_tokens,
      |  round(CAST(dup_tokens AS DOUBLE)
      |    / CAST(total_tokens AS DOUBLE), 6) + 0.0 AS dup_share,
      |  pad_tokens,
      |  round(CAST(pad_tokens AS DOUBLE)
      |    / CAST(n_chunks * 32 AS DOUBLE), 6) + 0.0 AS pad_share,
      |  round(CAST(n_chunks * 32 AS DOUBLE)
      |    / CAST(total_tokens AS DOUBLE), 6) + 0.0 AS compute_blowup
      |FROM per ORDER BY stride DESC""".stripMargin

  // --------------------------------------------------------------- q410
  /** Length-bucketed batching savings — the DYNAMIC-batching decision
    * table completing the q395/q407 family: instead of padding every
    * sequence to one global max, sort by length and cut the corpus into
    * B equal-count buckets, padding each bucket only to ITS max. For
    * B ∈ {1, 2, 4, 8, 16}: exact pad mass, its share of the device
    * tokens actually scheduled, and the saving against the B = 1
    * (global-max) baseline — the curve a batch scheduler reads to pick
    * its bucket count (diminishing returns set in exactly where the
    * length distribution's tail stops dominating the bucket max).
    *
    * Exactness: bucket assignment is pure integer arithmetic on the
    * exact global length rank (⌊(rk−1)·B/N⌋ over the (n, doc_id) total
    * order), pad masses are integer sums of per-bucket max−n terms, and
    * each share is ONE 6-dp-snapped division.
    *
    * Scale shape: ONE [[graft.operators.RangeRank.withGlobalRank]]
    * range shuffle gives every bucket count its assignment (the ranked
    * frame is eagerly materialized and shared); per B the census is a
    * map-combinable ≤ B-row aggregate; the savings join broadcasts the
    * 1-row B = 1 baseline. No fact-scale window, no quadratic stage. */
  def q410BucketBatching(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    val bs = Seq(1, 2, 4, 8, 16)
    val lens = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n"))
      .filter(col("n") > 0)
    val ranked = graft.plans.Eager.ckpt(
      graft.operators.RangeRank.withGlobalRank(lens, "rk",
        Seq(col("n"), col("doc_id"))))
    val total = ranked.agg(count(lit(1)).as("nd")).head().getLong(0)
    val perB = bs.map { b =>
      ranked
        .groupBy(expr(s"((rk - 1) * $b) div $total").as("bucket"))
        .agg(count(lit(1)).as("cnt"), max(col("n")).as("mx"),
          sum(col("n")).as("toks"))
        .agg(lit(b.toLong).as("n_buckets"),
          sum(col("cnt")).as("n_docs"),
          sum(col("toks")).as("total_tokens"),
          sum(col("cnt") * col("mx") - col("toks")).as("pad_tokens"))
    }.reduce(_ unionAll _)
    val base = perB.filter(col("n_buckets") === 1L)
      .select(col("pad_tokens").as("pad_base"))
    perB.crossJoin(broadcast(base))
      .select(col("n_buckets"), col("n_docs"), col("total_tokens"),
        col("pad_tokens"),
        (col("total_tokens") + col("pad_tokens")).as("device_tokens"),
        r6(col("pad_tokens").cast("double") /
          (col("total_tokens") + col("pad_tokens")).cast("double"))
          .as("pad_share"),
        r6(lit(1.0) - col("pad_tokens").cast("double") /
          col("pad_base").cast("double")).as("saving_vs_global"))
      .orderBy("n_buckets")
  }

  val q410Sql: String =
    """WITH lens AS (
      |  SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+'))
      |    AS BIGINT) AS n
      |  FROM documents WHERE length(trim(text)) > 0),
      |ranked AS (
      |  SELECT n, row_number() OVER (ORDER BY n, doc_id) AS rk,
      |    COUNT(*) OVER () AS nd
      |  FROM lens),
      |bset(b) AS (VALUES (CAST(1 AS BIGINT)), (2), (4), (8), (16)),
      |bucketed AS (
      |  SELECT b, ((rk - 1) * b) // nd AS bucket, n FROM ranked
      |  CROSS JOIN bset),
      |census AS (
      |  SELECT b, bucket, COUNT(*) AS cnt, MAX(n) AS mx,
      |    CAST(SUM(n) AS BIGINT) AS toks
      |  FROM bucketed GROUP BY 1, 2),
      |per AS (
      |  SELECT b AS n_buckets, CAST(SUM(cnt) AS BIGINT) AS n_docs,
      |    CAST(SUM(toks) AS BIGINT) AS total_tokens,
      |    CAST(SUM(cnt * mx - toks) AS BIGINT) AS pad_tokens
      |  FROM census GROUP BY 1),
      |base AS (SELECT pad_tokens AS pad_base FROM per WHERE n_buckets = 1)
      |SELECT n_buckets, n_docs, total_tokens, pad_tokens,
      |  total_tokens + pad_tokens AS device_tokens,
      |  round(CAST(pad_tokens AS DOUBLE)
      |    / CAST(total_tokens + pad_tokens AS DOUBLE), 6) + 0.0
      |    AS pad_share,
      |  round(1.0 - CAST(pad_tokens AS DOUBLE)
      |    / CAST(pad_base AS DOUBLE), 6) + 0.0 AS saving_vs_global
      |FROM per CROSS JOIN base ORDER BY n_buckets""".stripMargin

  // --------------------------------------------------------------- q419
  /** Eval-split design audit for EVENT data — the leakage taxonomy the
    * doc-split family (q46/q181/q399/q417) cannot see, because events
    * carry a user AND a clock: three standard policies split the event
    * log ~80/20 and each fails differently. Per policy: the split
    * sizes, users STRADDLING both sides (identity leakage — any
    * user-level feature computed on train has seen the test user), and
    * causal leaks — test events with a LATER train event by the same
    * user (the future bleeding into training, the failure that
    * invalidates temporal eval). Event-random leaks both ways;
    * user-grouped kills straddling (and with it causal leakage) but
    * evaluates only unseen users; the time cutoff zeroes causal
    * leakage by construction while every active user straddles. The
    * table IS the design choice.
    *
    * Exactness: md5 split assignment (the splitFor hash family), exact
    * timestamp comparisons and integer counts; shares are single
    * 6-dp-snapped divisions.
    *
    * Scale shape: the 3-policy stack is a per-row projection; ONE
    * map-combinable (policy, user) census (max train ts + side
    * counts), one linear hash join of the test events back against
    * that census for the causal count, and a ≤ 3-row rollup. */
  def q419SplitDesign(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("2024-01-25 00:00:00").cast("timestamp")
    def trainHash(c: Column): Column =
      substring(md5(concat(lit("split:"), c.cast("string"))), 1, 2) < "cc"
    val lab = graft.queries.Kpis.eventsTable(spark, dir)
      .select(col("user_id"), col("ts"),
        trainHash(col("event_id")).as("t1"),
        (col("ts") < cutoff).as("t2"),
        trainHash(col("user_id")).as("t3"))
      .select(col("user_id"), col("ts"), expr(
        "stack(3, 'event_random', t1, 'time_cutoff', t2, " +
          "'user_grouped', t3) as (policy, is_train)"))
    val census = graft.plans.Eager.ckpt(lab
      .groupBy(col("policy"), col("user_id"))
      .agg(sum(when(col("is_train"), 1L).otherwise(0L)).as("n_tr"),
        sum(when(!col("is_train"), 1L).otherwise(0L)).as("n_te"),
        max(when(col("is_train"), col("ts"))).as("max_tr")))
    val leaks = lab.filter(!col("is_train"))
      .join(census, Seq("policy", "user_id"))
      .groupBy(col("policy"))
      .agg(sum(when(col("max_tr").isNotNull && col("ts") < col("max_tr"),
        1L).otherwise(0L)).as("causal_leaks"))
    census.groupBy(col("policy"))
      .agg(sum(col("n_tr")).as("n_train"), sum(col("n_te")).as("n_test"),
        count(lit(1)).as("n_users"),
        sum(when(col("n_tr") > 0 && col("n_te") > 0, 1L).otherwise(0L))
          .as("straddling_users"))
      .join(leaks, "policy")
      .select(col("policy"), col("n_train"), col("n_test"),
        col("n_users"), col("straddling_users"),
        r6(col("straddling_users").cast("double") /
          col("n_users").cast("double")).as("straddle_share"),
        col("causal_leaks"),
        r6(col("causal_leaks").cast("double") /
          col("n_test").cast("double")).as("causal_leak_share"))
      .orderBy("policy")
  }

  val q419Sql: String = {
    val th = (c: String) =>
      s"substr(md5('split:' || CAST($c AS VARCHAR)), 1, 2) < 'cc'"
    s"""WITH lab AS (
      |  SELECT user_id, ts, policy, is_train FROM events,
      |  LATERAL (VALUES
      |    ('event_random', ${th("event_id")}),
      |    ('time_cutoff', ts < TIMESTAMP '2024-01-25 00:00:00'),
      |    ('user_grouped', ${th("user_id")}))
      |    AS v(policy, is_train)),
      |census AS (
      |  SELECT policy, user_id,
      |    CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_tr,
      |    CAST(SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT)
      |      AS n_te,
      |    MAX(CASE WHEN is_train THEN ts END) AS max_tr
      |  FROM lab GROUP BY 1, 2),
      |leaks AS (
      |  SELECT l.policy,
      |    CAST(SUM(CASE WHEN c.max_tr IS NOT NULL AND l.ts < c.max_tr
      |      THEN 1 ELSE 0 END) AS BIGINT) AS causal_leaks
      |  FROM lab l JOIN census c
      |    ON l.policy = c.policy AND l.user_id = c.user_id
      |  WHERE NOT l.is_train GROUP BY 1),
      |agg AS (
      |  SELECT policy, CAST(SUM(n_tr) AS BIGINT) AS n_train,
      |    CAST(SUM(n_te) AS BIGINT) AS n_test,
      |    COUNT(*) AS n_users,
      |    CAST(SUM(CASE WHEN n_tr > 0 AND n_te > 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS straddling_users
      |  FROM census GROUP BY 1)
      |SELECT a.policy, n_train, n_test, n_users, straddling_users,
      |  round(CAST(straddling_users AS DOUBLE)
      |    / CAST(n_users AS DOUBLE), 6) + 0.0 AS straddle_share,
      |  causal_leaks,
      |  round(CAST(causal_leaks AS DOUBLE) / CAST(n_test AS DOUBLE), 6)
      |    + 0.0 AS causal_leak_share
      |FROM agg a JOIN leaks k ON a.policy = k.policy
      |ORDER BY a.policy""".stripMargin
  }

  // --------------------------------------------------------------- q421
  /** Multi-epoch value-decay planning table — the data-constrained
    * scaling question (Muennighoff et al. 2023, public result: repeated
    * tokens lose value with an effective repetition constant R* ≈ 15):
    * for each language and epoch count E ∈ {1, 2, 4, 8, 16}, the raw
    * token budget spent (U·E), the EFFECTIVE unique-token-equivalent
    * data under the published decay D_eff = U·(1 + R*·(1 − e^{−(E−1)/R*}))
    * …scaled per epoch, and the marginal efficiency of the E-th doubling
    * — the table a budget planner reads to decide when repeating this
    * corpus stops paying and new data must be bought. Smaller languages
    * hit the flat region of the curve at the same E (the decay is
    * per-epoch, not per-token), which is exactly why mixtures
    * up-sample small sources by epochs (q373) only so far.
    *
    * Exactness: U is an exact integer census; the decay is a single
    * exp() expression over integer E and the literal R*, evaluated with
    * identical operands in both engines and 6-dp snapped; raw budgets
    * are integer products.
    *
    * Scale shape: ONE map-combinable per-lang token census off the doc
    * scan, then a 5× census explode for the epoch grid. Nothing else
    * touches fact scale. */
  def q421EpochDecay(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    val rStar = 15.0
    val u = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy(col("lang"))
      .agg(sum(tokenCount(col("text")).cast("long")).as("u_tokens"))
    u.select(col("lang"), col("u_tokens"),
        expr("stack(5, 1L, 2L, 4L, 8L, 16L) as (epochs)"))
      .withColumn("raw_tokens", col("u_tokens") * col("epochs"))
      .withColumn("eff_tokens_raw",
        col("u_tokens").cast("double") * (lit(1.0) + lit(rStar) *
          (lit(1.0) - exp((lit(1.0) - col("epochs").cast("double"))
            / lit(rStar)))))
      .select(col("lang"), col("epochs"), col("u_tokens"),
        col("raw_tokens"),
        r6(col("eff_tokens_raw")).as("eff_tokens"),
        r6(col("eff_tokens_raw") / col("raw_tokens").cast("double"))
          .as("efficiency"))
      .orderBy("lang", "epochs")
  }

  val q421Sql: String =
    """WITH u AS (
      |  SELECT lang,
      |    CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
      |      ELSE len(regexp_split_to_array(trim(text), '\s+'))
      |      END) AS BIGINT) AS u_tokens
      |  FROM documents GROUP BY 1),
      |e(epochs) AS (VALUES (CAST(1 AS BIGINT)), (2), (4), (8), (16)),
      |g AS (
      |  SELECT lang, epochs, u_tokens, u_tokens * epochs AS raw_tokens,
      |    CAST(u_tokens AS DOUBLE) * (1.0 + 15.0 *
      |      (1.0 - exp((1.0 - CAST(epochs AS DOUBLE)) / 15.0)))
      |      AS eff_raw
      |  FROM u CROSS JOIN e)
      |SELECT lang, epochs, u_tokens, raw_tokens,
      |  round(eff_raw, 6) + 0.0 AS eff_tokens,
      |  round(eff_raw / CAST(raw_tokens AS DOUBLE), 6) + 0.0
      |    AS efficiency
      |FROM g ORDER BY lang, epochs""".stripMargin

  // --------------------------------------------------------------- q422
  /** Concat-packing contamination census — the OTHER side of the
    * tradeoff q395 prices: concat-and-split packing wastes almost no
    * pad, but it makes documents share sequences, and without
    * attention masking every co-resident pair cross-attends. For the
    * deterministic doc_id-order concatenation at L ∈ {128, 512, 2048}:
    * sequences produced, documents SPLIT across a boundary (their
    * context is truncated mid-doc), co-resident document pairs (the
    * contamination count — docs are disjoint intervals, so each pair
    * shares exactly one sequence and the per-sequence pair census
    * counts it exactly once), and mean docs per sequence. Read beside
    * q395's pad columns, this is the full decision: pad cost of
    * one-doc-per-sequence vs contamination cost of packing.
    *
    * Exactness: positions are an exact running sum over the (doc_id)
    * total order; sequence indices are integer division; all counts
    * are integers and each share is ONE 6-dp-snapped division.
    *
    * Scale shape: ONE [[graft.operators.RangeRank.withRunningSum]]
    * range shuffle (eagerly shared by all three L); the touched-
    * sequence explode fans out ≤ n_tokens/L + 1 rows per doc; per-L
    * censuses are map-combinable aggregates keyed by sequence id. */
  def q422PackingContamination(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    val ls = Seq(128L, 512L, 2048L)
    val lens = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n"))
      .filter(col("n") > 0)
    val pos = graft.plans.Eager.ckpt(graft.operators.RangeRank
      .withRunningSum(lens, col("n"), "cum", Seq(col("doc_id"))))
    val perL = ls.map { l =>
      val seqs = pos
        .withColumn("first_seq", expr(s"(cum - n) div $l"))
        .withColumn("last_seq", expr(s"(cum - 1) div $l"))
      val split = seqs.agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_tokens"),
        sum(when(col("first_seq") =!= col("last_seq"), 1L).otherwise(0L))
          .as("split_docs"))
      val cross = seqs
        .select(explode(sequence(col("first_seq"), col("last_seq")))
          .as("seq"))
        .groupBy(col("seq")).agg(count(lit(1)).as("m"))
        .agg(coalesce(sum(expr("m * (m - 1) div 2")), lit(0L))
          .as("cross_pairs"),
          sum(col("m")).as("doc_seq_edges"))
      split.crossJoin(cross).select(lit(l).as("max_len"), col("n_docs"),
        col("total_tokens"),
        expr(s"(total_tokens + $l - 1) div $l").as("n_seqs"),
        col("split_docs"),
        r6(col("split_docs").cast("double") / col("n_docs").cast("double"))
          .as("split_share"),
        col("cross_pairs"),
        r6(col("doc_seq_edges").cast("double") /
          expr(s"(total_tokens + $l - 1) div $l").cast("double"))
          .as("avg_docs_per_seq"))
    }.reduce(_ unionAll _)
    perL.orderBy("max_len")
  }

  val q422Sql: String =
    """WITH lens AS (
      |  SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+'))
      |    AS BIGINT) AS n
      |  FROM documents WHERE length(trim(text)) > 0),
      |pos AS (
      |  SELECT doc_id, n,
      |    SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM lens),
      |ml(max_len) AS (VALUES (CAST(128 AS BIGINT)), (512), (2048)),
      |seqs AS (
      |  SELECT max_len, doc_id, n, cum,
      |    (cum - n) // max_len AS first_seq,
      |    (cum - 1) // max_len AS last_seq
      |  FROM pos CROSS JOIN ml),
      |split AS (
      |  SELECT max_len, COUNT(*) AS n_docs,
      |    CAST(SUM(n) AS BIGINT) AS total_tokens,
      |    CAST(SUM(CASE WHEN first_seq <> last_seq THEN 1 ELSE 0 END)
      |      AS BIGINT) AS split_docs
      |  FROM seqs GROUP BY 1),
      |touch AS (
      |  SELECT max_len, unnest(range(CAST(first_seq AS BIGINT),
      |    CAST(last_seq + 1 AS BIGINT))) AS seq
      |  FROM seqs),
      |cross_c AS (
      |  SELECT max_len,
      |    CAST(COALESCE(SUM(m * (m - 1) // 2), 0) AS BIGINT)
      |      AS cross_pairs,
      |    CAST(SUM(m) AS BIGINT) AS doc_seq_edges
      |  FROM (SELECT max_len, seq, COUNT(*) AS m FROM touch
      |        GROUP BY 1, 2) GROUP BY 1)
      |SELECT s.max_len, n_docs, total_tokens,
      |  (total_tokens + s.max_len - 1) // s.max_len AS n_seqs,
      |  split_docs,
      |  round(CAST(split_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
      |    + 0.0 AS split_share,
      |  cross_pairs,
      |  round(CAST(doc_seq_edges AS DOUBLE)
      |    / CAST((total_tokens + s.max_len - 1) // s.max_len AS DOUBLE),
      |    6) + 0.0 AS avg_docs_per_seq
      |FROM split s JOIN cross_c c ON s.max_len = c.max_len
      |ORDER BY s.max_len""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q422_packing_contamination", q422PackingContamination _, q422Sql),
    Query("q421_epoch_decay", q421EpochDecay _, q421Sql),
    Query("q419_split_design", q419SplitDesign _, q419Sql),
    Query("q410_bucket_batching", q410BucketBatching _, q410Sql),
    Query("q407_chunking_ledger", q407ChunkingLedger _, q407Sql),
    Query("q399_neardup_leakage", q399NearDupLeakage _, q399Sql),
    Query("q395_packing_curve", q395PackingCurve _, q395Sql),
    Query("q373_temperature_mix", q373TemperatureMix _, q373Sql),
    Query("q433_mixture_cert", q433MixtureCert _, q433Sql),
    Query("q439_mixture_delta", q439MixtureDelta _, q439Sql),
    Query("q307_water_filling", q307WaterFilling _, q307Sql),
    Query("q217_oov_rate", q217OovRate _, q217Sql),
    Query("q52_mixture_sample", q52MixtureSample _, q52Sql),
    Query("q181_split_leakage", q181SplitLeakage _, q181Sql),
    Query("q46_split_census",
      ((spark: SparkSession, dir: String) => {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("lang"), col("text"))
          .withColumn("split", splitFor(col("doc_id").cast("string")))
        val census = docs.groupBy("lang", "split")
          .agg(count(lit(1)).as("n_docs"),
            (sum(length(col("text"))).cast("double") / count(lit(1)))
              .as("avg_chars"))
        census
          .withColumn("frac", col("n_docs").cast("double") /
            sum("n_docs").over(Window.partitionBy("lang")))
          .orderBy("lang", "split")
      }),
      """WITH d AS (
        |  SELECT lang, length(text) AS chars,
        |    CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
        |           THEN 'train'
        |         WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |census AS (
        |  SELECT lang, split, COUNT(*) AS n_docs,
        |    CAST(SUM(chars) AS DOUBLE) / COUNT(*) AS avg_chars
        |  FROM d GROUP BY 1, 2)
        |SELECT lang, split, n_docs, avg_chars,
        |  CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (PARTITION BY lang) AS frac
        |FROM census ORDER BY lang, split""".stripMargin))
}
