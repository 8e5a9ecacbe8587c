package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.TextFunctions._

/** q154: the END-TO-END curation pipeline (VERDICT r11 #7) — the
  * library's curation operators composed as ONE query, certifying
  * operator COMPOSITION rather than operators in isolation:
  *
  *   ingest (dup-injected corpus) → lang-id gate (q24's heuristic) →
  *   quality gate (q23's composite ≥ 0.5) → exact dedup (q19's
  *   fingerprint, keep-min) → near dedup (q22's MinHash banding + exact
  *   Jaccard ≥ 0.5, drop the larger id of each pair) → decontamination
  *   (q48's holdout-shingle overlap ≥ 0.5 rule + eval-set removal) →
  *   per-language quality quota (q56's ranked quota).
  *
  * The registered OUTPUT is the per-stage row LEDGER — (stage_no,
  * stage, rows_in, rows_out), one row per stage — the artifact a
  * production curation run has to publish anyway. It is all-integer
  * (hash-trivially-safe) and pins the exact survivor count of every
  * stage boundary, so any drift in any composed operator breaks the
  * hash. The DuckDB oracle replays all seven stages as one WITH chain
  * (reusing the proven q19/q22/q23/q24/q48/q56 SQL spellings, including
  * [[DocQueries.minhashPairsSqlFragment]]) and counts the same
  * boundaries.
  *
  * Corpus: documents ∪ exact clones of every doc_id % 10 == 0
  * (+100000) ∪ near clones (3-token tail) of every doc_id % 10 == 5
  * (+200000) — so the exact-dedup AND near-dedup stages both have
  * real work, derived identically in both engines (the q19/q22
  * injection convention).
  *
  * Scale shape: every stage is the same plan the standalone query runs
  * — hash/band equi-joins and broadcast semi-joins, no all-pairs
  * product, the only windows per-language — composed through eager
  * stage barriers (`localCheckpoint`, the q53 convention) so the ledger
  * counts rescan cached stage outputs instead of re-deriving the chain
  * 7×. At 100 TB each barrier is a materialized intermediate table —
  * exactly how a production pipeline stages its curation hops. */
object CurationPipeline {

  private val QualityMin = 0.5
  private val JaccardMin = 0.5
  private val OverlapMax = 0.5

  // --------------------------------------------------------------- q154
  def q154CurationPipeline(spark: SparkSession, dir: String): DataFrame =
    pipeline(spark, dir, _ => ())

  /** The staged pipeline with a per-stage completion callback (`lap`) so
    * diagnostics can attribute wall time to stages — each stage is
    * eagerly materialized, so the callback fires when its work is done.
    * r18 measured-and-rejected (kept out): (a) demoting the seven eager
    * stage checkpoints to the q400/q432 StageCache lazy persists made
    * the query SLOWER back-to-back (5.6 -> 6.8 s isolated at sf0.1 —
    * the one-action tree stalls task slots on cache locks while 14
    * census branches race the chain's first materialization); (b) a
    * corpus checkpoint of `d` also measured slower (5.6 -> 6.0 s — `d`
    * is RAW text here, and three extra OS-cached parquet scans are
    * cheaper than materializing the text rows; contrast frontStages,
    * whose corpus is TOKENIZED and whose checkpoint measured a win). */
  private[graft] def pipeline(spark: SparkSession, dir: String,
      lap: String => Unit): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    val d = Kpis.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))

    // stage 0 — ingest with injected exact + near duplicates
    val s0 = d
      .unionAll(d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 100000))
      .unionAll(d.filter(col("doc_id") % 10 === 5)
        .withColumn("doc_id", col("doc_id") + 200000)
        .withColumn("text", concat(col("text"), lit(" zz extra tail"))))
      // single-file fixture scan = one split; spread before the per-doc
      // lambdas downstream (q29's lesson)
      .repartition(par, col("doc_id"))
      .localCheckpoint(true)
    lap("s0_ingest")

    // stage 1 — language gate: q24's stopword-density heuristic, keep 'en'
    val s1 = s0
      .withColumn("toks", tokens(col("text")))
      .filter(size(filter(col("toks"), t => t.isin("the", "a"))).cast("double")
        / size(col("toks")) >= 0.04)
      .select("doc_id", "text", "lang")
      .localCheckpoint(true)
    lap("s1_lang")

    // stage 2 — quality gate: q23's composite score
    val s2 = s1
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_chars", length(col("text")))
      .withColumn("n_stop",
        size(filter(col("toks"), t => t.isin("the", "a"))))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("quality",
        least(lit(1.0), col("n_tokens").cast("double") / 100.0) * 0.4
          + (lit(1.0) - col("stop_ratio")) * 0.3
          + least(lit(1.0), col("n_chars").cast("double") / 500.0) * 0.3)
      .filter(col("quality") >= QualityMin)
      .select("doc_id", "text", "lang")
      .localCheckpoint(true)
    lap("s2_quality")

    // stage 3 — exact dedup: q19's fingerprint, keep the smallest doc_id
    val fp3 = s2.withColumn("fp", fingerprint(col("text")))
    val s3 = fp3
      .join(fp3.groupBy("fp").agg(min(col("doc_id")).as("keep_id")), "fp")
      .filter(col("doc_id") === col("keep_id"))
      .select("doc_id", "text", "lang")
      .localCheckpoint(true)
    lap("s3_exact")

    // stage 4 — near dedup: q22's MinHash banding over the SURVIVORS,
    // exact-Jaccard verify, drop the larger id of every verified pair
    val base4 = s3.repartition(par, col("doc_id"))
      .withColumn("toks", tokens(col("text")))
      .withColumn("sh", shingles(col("toks"), 3))
      .withColumn("sig", minhashSignature(col("sh"), 16))
    val banded = base4
      .select(col("doc_id"), col("sh"),
        explode(minhashBands(col("sig"), 8, 2)).as("b"))
      .select(col("doc_id"), col("sh"),
        col("b.band").as("band"), col("b.band_hash").as("band_hash"))
    val aSide = banded.select(col("band"), col("band_hash"),
      col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val bSide = banded.select(col("band"), col("band_hash"),
      col("doc_id").as("b_id"), col("sh").as("b_sh"))
    val dropNear = aSide.join(bSide, Seq("band", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        jaccard(col("a_sh"), col("b_sh")).as("jaccard"))
      .distinct()
      .filter(col("jaccard") >= JaccardMin)
      .select(col("b_id").as("doc_id")).distinct()
    val s4 = s3.join(dropNear, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    lap("s4_near")

    // stage 5 — decontamination: q48's rule against the %10==7 holdout
    // (holdout shingles from the ORIGINAL table — the eval set is
    // external to the pipeline), plus removal of the eval docs themselves
    val holdout = d.filter(col("doc_id") % 10 === 7)
      .select(explode(array_distinct(shingles(tokens(col("text")), 3))).as("s"))
      .distinct()
    // materialized once: the shingle table feeds BOTH the hit count and
    // the overlap-fraction join — computing tokens+shingles over the
    // survivor texts is the stage's dominant cost and must not run twice
    // (measured 7.2 s -> 3.6 s warm at sf0.1)
    val sh5 = s4.select(col("doc_id"),
      array_distinct(shingles(tokens(col("text")), 3)).as("sh"))
      .localCheckpoint(true)
    val hits = sh5.select(col("doc_id"), explode(col("sh")).as("s"))
      .join(broadcast(holdout), Seq("s"), "leftsemi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    val s5 = s4
      .join(sh5, "doc_id")
      .join(hits, Seq("doc_id"), "left")
      .filter(col("doc_id") % 10 =!= 7)
      .filter(coalesce(col("n_hit"), lit(0L)).cast("double")
        / size(col("sh")).cast("double") < OverlapMax)
      .select("doc_id", "text", "lang")
      .localCheckpoint(true)
    lap("s5_decontam")

    // stage 6 — per-language quality quota: q56's ranked quota (the
    // literal bound keeps Spark 4's WindowGroupLimit map-side prune)
    val maxQuota = 40
    val quota = when(col("lang") === "en", lit(40)).otherwise(lit(25))
    val w = Window.partitionBy("lang")
      .orderBy(col("score").desc, col("doc_id"))
    val s6 = s5
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_toks", size(col("toks")))
      .withColumn("score",
        when(col("n_toks") === 0, lit(0.0)).otherwise(round(
          log(lit(1.0) + col("n_toks")) *
            (size(array_distinct(col("toks"))).cast("double") /
              col("n_toks")), 6)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= maxQuota)
      .filter(col("rk") <= quota)
      .select("doc_id", "text", "lang")
      .localCheckpoint(true)
    lap("s6_quota")

    // the ledger: one row per stage boundary, counts over the cached
    // stage outputs
    val stages = Seq(
      (0, "ingest", d, s0), (1, "lang_id", s0, s1),
      (2, "quality", s1, s2), (3, "exact_dedup", s2, s3),
      (4, "near_dedup", s3, s4), (5, "decontam", s4, s5),
      (6, "quota", s5, s6))
    stages.map { case (no, nm, prev, cur) =>
      prev.agg(count(lit(1)).as("rows_in"))
        .crossJoin(cur.agg(count(lit(1)).as("rows_out")))
        .select(lit(no).as("stage_no"), lit(nm).as("stage"),
          col("rows_in"), col("rows_out"))
    }.reduce(_.unionAll(_)).orderBy("stage_no")
  }

  val q154Sql: String = {
    val langGate =
      """CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                     t -> t IN ('the', 'a'))) AS DOUBLE)
        |  / len(regexp_split_to_array(trim(text), '\s+')) >= 0.04""".stripMargin
    val shingleList =
      """list_distinct(
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, len(toks) - 1),
        |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |    END)""".stripMargin
    s"""WITH d AS (SELECT doc_id, text, lang FROM documents),
      |s0 AS (
      |  SELECT doc_id, text, lang FROM d
      |  UNION ALL
      |  SELECT doc_id + 100000, text, lang FROM d WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000, text || ' zz extra tail', lang
      |  FROM d WHERE doc_id % 10 = 5),
      |s1 AS (SELECT * FROM s0 WHERE $langGate),
      |s2 AS (
      |  SELECT doc_id, text, lang FROM (
      |    SELECT doc_id, text, lang,
      |      CASE WHEN length(trim(text)) = 0 THEN 0
      |           ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
      |      length(text) AS n_chars,
      |      CASE WHEN length(trim(text)) = 0 THEN 0
      |           ELSE len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
      |                                t -> t IN ('the', 'a'))) END AS n_stop
      |    FROM s1)
      |  WHERE least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.4
      |      + (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
      |      + least(1.0, CAST(n_chars AS DOUBLE) / 500.0) * 0.3 >= $QualityMin),
      |fp3 AS (
      |  SELECT doc_id, text, lang,
      |    md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
      |  FROM s2),
      |s3 AS (
      |  SELECT doc_id, text, lang FROM fp3
      |  WHERE doc_id IN (SELECT MIN(doc_id) FROM fp3 GROUP BY fp)),
      |${DocQueries.minhashPairsSqlFragment("s3")},
      |s4 AS (
      |  SELECT * FROM s3 WHERE doc_id NOT IN
      |    (SELECT b_id FROM pairs WHERE jaccard >= $JaccardMin)),
      |shs5 AS (
      |  SELECT doc_id, $shingleList AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      |        FROM s4)),
      |hold AS (
      |  SELECT DISTINCT unnest(sh) AS s FROM (
      |    SELECT $shingleList AS sh
      |    FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS toks
      |          FROM documents WHERE doc_id % 10 = 7))),
      |hits5 AS (
      |  SELECT doc_id, COUNT(*) AS n_hit
      |  FROM (SELECT doc_id, unnest(sh) AS s FROM shs5) e
      |  JOIN hold USING (s) GROUP BY doc_id),
      |s5 AS (
      |  SELECT s4.doc_id, s4.text, s4.lang
      |  FROM s4 JOIN shs5 USING (doc_id) LEFT JOIN hits5 USING (doc_id)
      |  WHERE doc_id % 10 != 7
      |    AND CAST(COALESCE(n_hit, 0) AS DOUBLE) / CAST(len(sh) AS DOUBLE)
      |          < $OverlapMax),
      |sc6 AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN len(toks) = 0 THEN 0.0
      |         ELSE round(ln(1.0 + len(toks)) *
      |                (len(list_distinct(toks))::DOUBLE / len(toks)), 6)
      |    END AS score
      |  FROM (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks
      |        FROM s5)),
      |s6 AS (
      |  SELECT doc_id FROM (
      |    SELECT *, row_number() OVER
      |      (PARTITION BY lang ORDER BY score DESC, doc_id) AS rk
      |    FROM sc6)
      |  WHERE rk <= CASE WHEN lang = 'en' THEN 40 ELSE 25 END)
      |SELECT CAST(stage_no AS INTEGER) AS stage_no, stage,
      |  CAST(rows_in AS BIGINT) AS rows_in, CAST(rows_out AS BIGINT) AS rows_out
      |FROM (
      |  SELECT 0 AS stage_no, 'ingest' AS stage,
      |    (SELECT COUNT(*) FROM d) AS rows_in, (SELECT COUNT(*) FROM s0) AS rows_out
      |  UNION ALL SELECT 1, 'lang_id',
      |    (SELECT COUNT(*) FROM s0), (SELECT COUNT(*) FROM s1)
      |  UNION ALL SELECT 2, 'quality',
      |    (SELECT COUNT(*) FROM s1), (SELECT COUNT(*) FROM s2)
      |  UNION ALL SELECT 3, 'exact_dedup',
      |    (SELECT COUNT(*) FROM s2), (SELECT COUNT(*) FROM s3)
      |  UNION ALL SELECT 4, 'near_dedup',
      |    (SELECT COUNT(*) FROM s3), (SELECT COUNT(*) FROM s4)
      |  UNION ALL SELECT 5, 'decontam',
      |    (SELECT COUNT(*) FROM s4), (SELECT COUNT(*) FROM s5)
      |  UNION ALL SELECT 6, 'quota',
      |    (SELECT COUNT(*) FROM s5), (SELECT COUNT(*) FROM s6))
      |ORDER BY stage_no""".stripMargin
  }

  /** Registered-stage cache for the v2/v3 ledgers (VERDICT r16 #5): the
    * former per-stage `localCheckpoint(true)` barriers serialized ~15
    * EAGER jobs whose fixed costs dominated q432's wall and made it
    * swing 10.6–27.0 s across same-HEAD runs (JVM/heap-state-sensitive
    * constants). Each stage is now a LAZY MEMORY_AND_DISK persist: the
    * ledger's one action materializes every stage exactly once and the
    * census rows reuse the columnar cache — same single-materialization
    * guarantee, no per-stage job submission, and the columnar cache is
    * cheaper than checkpoint's row serialization. The iterative CC
    * contraction and the (tiny) contamination verdict keep their
    * checkpoints — unbounded lineage is the one thing persist does not
    * truncate. Entries drop every stage cache after materializing their
    * 11-row ledger, so a repeated bench run cannot poach caches. */
  private[graft] final class StageCache {
    private val frames = scala.collection.mutable.ArrayBuffer
      .empty[DataFrame]
    def apply(df: DataFrame): DataFrame = {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      frames += df
      df
    }
    def release(): Unit = { frames.foreach(_.unpersist(false)); () }
  }

  /** q350-family K-shingle position rows (doc_id, p, fp) of a `toks`
    * frame — ONE spelling shared by the v2/v3 self-repetition gates,
    * substring rewrites, and contamination probes. */
  private def positionsOf(df: DataFrame): DataFrame = {
    import graft.queries.SubstringQueries.K
    df.filter(size(col("toks")) >= K)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("toks")) - K),
          i => md5(array_join(slice(col("toks"), i + lit(1), lit(K)), " "))))
          .as(Seq("p", "fp")))
  }

  /** The shared v2/v3 FRONT HALF: tokenized corpus split into benchmark
    * (doc_id ≡ 7 mod 10) and body, the deterministic injections — loop
    * prey (≡5 mod 8), benchmark quotes (≡3 mod 10), gibberish clones
    * (≡4 mod 9, +3·10¹¹), excerpt clones (≡1 mod 6, +4·10¹¹), and,
    * when `withClone` (v3), the near-clone rescue population (≡3 mod
    * 10, +5·10¹¹, pristine text + 3-token unique tail) — then the three
    * front gates (q23 quality, q59/q391 perplexity, q393
    * self-repetition), each stage eagerly materialized. Returns
    * (bench, s0, s1, s2, s3). One spelling for both ledgers: the
    * lateral-alias divergence this file fixed (see the stage-0 note)
    * is exactly the drift risk two copies of this chain carried.
    *
    * Stage-0 note: the PRE-offset id is captured as a real column
    * (`did0`) before the +offset select — in a single select list,
    * Spark 4 resolves a bare col("doc_id") against the select's own
    * `.as("doc_id")` lateral alias (the POST-offset id), silently
    * diverging from the oracle's bb.doc_id spelling. */
  private[graft] def frontStages(spark: SparkSession, dir: String,
      withClone: Boolean, st: StageCache)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    import graft.queries.SubstringQueries.{K, L}
    val par = spark.sparkContext.defaultParallelism
    // ONE tokenize pass (r18, the q437 r17 discipline): the four-to-five
    // injection branches below each re-derive `body`, so an unmaterialized
    // `d` re-ran the scan+tokenize job once per branch inside the s0
    // materialization. A scan-projection checkpoint keeps the scan's
    // partitioning (the q367-good shape).
    val d = Kpis.table(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .localCheckpoint(true)
    val bench = st(d.filter(col("doc_id") % 10 === 7))
    val body = d.filter(col("doc_id") % 10 =!= 7)

    // stage 0 — the injections (did0 = the pre-offset id, see above)
    val tagged = body.select(col("doc_id"), col("toks"),
      col("doc_id").cast("string").as("did0"))
    val withLoop = body.select(col("doc_id"),
      when(col("doc_id") % 8 === 5 && size(col("toks")) >= 10,
        concat(col("toks"), slice(col("toks"), 1, 10),
          slice(col("toks"), 1, 10), slice(col("toks"), 1, 10)))
        .otherwise(col("toks")).as("toks"))
    val withQuote = withLoop
      .join(broadcast(bench.select((col("doc_id") - 4).as("doc_id"),
        col("toks").as("btoks"))), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("btoks").isNotNull,
          concat(col("toks"), slice(col("btoks"), 1, 30)))
          .otherwise(col("toks")).as("toks"))
    val noise = tagged.filter(col("doc_id") % 9 === 4)
      .select((col("doc_id") + lit(300000000000L)).as("doc_id"),
        transform(sequence(lit(1), lit(40)),
          i => concat(lit("nf"), col("did0"), lit("_"), i.cast("string")))
          .as("toks"))
    val excerpt = tagged.filter(col("doc_id") % 6 === 1 &&
        size(col("toks")) >= 28)
      .select((col("doc_id") + lit(400000000000L)).as("doc_id"),
        concat(
          transform(sequence(lit(1), lit(6)),
            i => concat(lit("xg"), col("did0"), lit("_"), i.cast("string"))),
          slice(col("toks"), 5, 24),
          transform(sequence(lit(1), lit(6)),
            i => concat(lit("yg"), col("did0"), lit("_"), i.cast("string"))))
          .as("toks"))
    val clone = tagged.filter(col("doc_id") % 10 === 3)
      .select((col("doc_id") + lit(500000000000L)).as("doc_id"),
        concat(col("toks"), transform(sequence(lit(1), lit(3)),
          i => concat(lit("cl"), col("did0"), lit("_"), i.cast("string"))))
          .as("toks"))
    val injected = withQuote.unionAll(noise).unionAll(excerpt)
    val s0 = st((if (withClone) injected.unionAll(clone) else injected)
      .repartition(par, col("doc_id")))

    // stage 1 — quality gate (q23's composite over the joined text)
    val s1 = st(s0
      .withColumn("text", array_join(col("toks"), " "))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_chars", length(col("text")))
      .withColumn("n_stop",
        size(filter(col("toks"), t => t.isin("the", "a"))))
      .filter(least(lit(1.0), col("n_tokens").cast("double") / 100.0) * 0.4
        + (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) * 0.3
        + least(lit(1.0), col("n_chars").cast("double") / 500.0) * 0.3
        >= QualityMin)
      .select("doc_id", "toks"))

    // stage 2 — perplexity gate: q59's unigram NLL, self-trained on the
    // s1 survivors, cut at q391's middle threshold
    val tok2 = s1.select(col("doc_id"), explode(col("toks")).as("token"))
    val vocab = tok2.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val lp = vocab.crossJoin(vocab.agg(sum(col("cnt")).as("total")))
      .select(col("token"),
        round(log(col("cnt").cast("double") / col("total")), 9).as("lp"))
    // lp is the VOCAB-bounded scoring table — the exact artifact the
    // streaming twin freezes as a broadcast closure (lmIndex), so
    // broadcasting it here matches the certified production shape and
    // stops the exploded token stream (data-scale) from shuffling on
    // `token` (r18, guide §3.1)
    val dropNll = tok2.join(broadcast(lp), "token")
      .groupBy(col("doc_id"))
      .agg((round(-avg(col("lp")), 6) + lit(0.0)).as("avg_nll"))
      .filter(col("avg_nll") > 8.0)
      .select("doc_id")
    val s2 = st(s1.join(dropNll, Seq("doc_id"), "left_anti"))

    // stage 3 — self-repetition gate: q393's rule, any tandem repeat ≥ L
    val nxt3 = positionsOf(s2)
      .withColumn("pn", lead(col("p"), 1).over(
        Window.partitionBy(col("doc_id"), col("fp")).orderBy(col("p"))))
      .filter(col("pn").isNotNull)
      .select(col("doc_id"), col("p"), (col("pn") - col("p")).as("prd"))
    val dropLoop = nxt3
      .withColumn("iid", col("p") - row_number().over(
        Window.partitionBy(col("doc_id"), col("prd")).orderBy(col("p"))))
      .groupBy(col("doc_id"), col("prd"), col("iid"))
      .agg(count(lit(1)).as("rl"))
      .filter(col("rl") + lit(K - 1) >= L)
      .select("doc_id").distinct()
    // s3 keeps the CHECKPOINT: it is the chain's most-reused frame (four
    // v3 consumers including the iterative CC contraction), and lineage
    // reaching an iterative consumer is the one case persist cannot
    // bound (the v3 heap blowup that pinned this split of barriers)
    val s3 = s2.join(dropLoop, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    (bench, s0, s1, s2, s3)
  }

  // --------------------------------------------------------------- q400
  /** Curation ledger v2 — the round-14/15 modalities composed end to
    * end, the way q154 composed the round-12 ones: ingest (with
    * deterministic injections that give every NEW gate real work) →
    * quality gate (q23 ≥ 0.5) → perplexity gate (q59's self-trained
    * unigram NLL ≤ 8.0, q391's grid — kills the injected gibberish, the
    * gate's real-world job) → self-repetition gate (q393's tandem-repeat
    * rule: any intra-doc repeated span ≥ L drops the doc) → exact dedup
    * (q19 keep-min) → substring REWRITE (q392's excision: cross-doc
    * spans ≥ L cut from the later doc — tokens drop, docs stay) →
    * span-contamination gate (q352's benchmark probe: any leaked span
    * ≥ L drops the doc) → packing (q395's ⌈total/512⌉ concat plan).
    *
    * The output is the per-stage (docs, tokens) ledger — v2 carries the
    * TOKEN column because its signature stage (the rewrite) changes
    * token mass without changing doc count. Injections, derived
    * identically in both engines: docs ≡ 5 (mod 8) gain three copies of
    * their first 10 tokens (loop-gate prey); docs ≡ 4 (mod 9) spawn a
    * 40-token doc-unique gibberish clone at +3·10¹¹ (perplexity-gate
    * prey); docs ≡ 1 (mod 6), ≥ 28 tokens, spawn a filler-wrapped
    * 24-token verbatim excerpt at +4·10¹¹ (rewrite prey); docs whose
    * id+4 is a benchmark doc (≡ 3 mod 10) append that benchmark's first
    * 30 tokens (contamination prey); the benchmark is the %10 == 7
    * slice, excluded from the pipeline corpus. In-place modifications
    * compose loop-append THEN quote-append.
    *
    * Exactness: the ledger is all-integer; the two gate scores are the
    * proven q23/q59 chains (bit-exact / 6-dp-snapped); every span stage
    * is integer position arithmetic.
    *
    * Scale shape: each stage is the standalone query's plan composed
    * through eager stage barriers (q154's convention): map-combinable
    * censuses, vocab-bounded LM aggregates, the q393 one-exchange loop
    * chain, the q350-family df-capped position joins, and a broadcast
    * benchmark probe — no all-pairs product anywhere. */
  def q400CurationV2(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.SubstringQueries.{BF, F, K, L}
    // stages 0-3 (injections + quality + perplexity + loop gate) are the
    // shared v2/v3 front half — see [[frontStages]]
    val st = new StageCache
    val (bench, s0, s1, s2, s3) =
      frontStages(spark, dir, withClone = false, st)
    def positions(df: DataFrame): DataFrame = positionsOf(df)

    // stage 4 — exact dedup: q19's fingerprint, keep-min. The election
    // is a PARTITIONED window min over fp (r18): one exchange + sort
    // instead of the agg+join-back spelling's two passes over s3 and
    // two exchanges — identical keep set (min per fp is min per fp).
    val fp4 = s3.withColumn("fp", md5(array_join(col("toks"), " ")))
    val s4 = st(fp4
      .withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .filter(col("doc_id") === col("keep_id"))
      .select("doc_id", "toks"))

    // stage 5 — substring rewrite: q392's excision (later doc loses the
    // shared span), tokens drop while docs stay
    val m5 = positions(s4)
    val keep5 = m5.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= F).select(col("fp"))
    val mm5 = st(m5.join(keep5, "fp"))
    val runs5 = mm5.select(col("fp"), col("doc_id").as("a_id"),
        col("p").as("ap"))
      .join(mm5.select(col("fp"), col("doc_id").as("b_id"),
        col("p").as("bp")), Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("diag", col("ap") - col("bp"))
      .withColumn("iid", col("ap") - row_number().over(
        Window.partitionBy(col("a_id"), col("b_id"), col("diag"))
          .orderBy(col("ap"))))
      .groupBy(col("a_id"), col("b_id"), col("diag"), col("iid"))
      .agg(count(lit(1)).as("rl"), min(col("ap")).as("a0"))
      .filter(col("rl") + lit(K - 1) >= L)
    val spans5 = runs5
      .select(col("b_id").as("doc_id"), (col("a0") - col("diag")).as("s"),
        (col("a0") - col("diag") + col("rl") + lit(K - 2)).as("e"))
      .distinct()
    val w5 = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val regs5 = spans5
      .withColumn("pme", max(col("e")).over(
        w5.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("grp", sum(when(col("pme").isNull ||
        col("s") > col("pme") + 1, 1L).otherwise(0L)).over(
        w5.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("s")).as("rs"), max(col("e")).as("re"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("rs"), col("re"))))
        .as("regs"))
    val s5 = st(s4.join(regs5, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("regs").isNull, col("toks"))
          .otherwise(expr(
            "filter(toks, (x, i) -> NOT exists(regs, r -> i >= r.rs AND i <= r.re))"))
          .as("toks")))

    // stage 6 — span-contamination gate: q352's probe, benchmark
    // positions broadcast with the BF boilerplate cap
    val bpos = positions(bench)
      .select(col("fp"), col("doc_id").as("bench_id"), col("p").as("bp"))
    val bprobe = bpos.join(
      bpos.groupBy(col("fp")).agg(count(lit(1)).as("n"))
        .filter(col("n") <= BF).select(col("fp")), "fp")
    val dropContam = positions(s5)
      .select(col("fp"), col("doc_id"), col("p").as("cp"))
      .join(broadcast(bprobe), Seq("fp"))
      .withColumn("diag", col("cp") - col("bp"))
      .withColumn("iid", col("cp") - row_number().over(
        Window.partitionBy(col("doc_id"), col("bench_id"), col("diag"))
          .orderBy(col("cp"))))
      .groupBy(col("doc_id"), col("bench_id"), col("diag"), col("iid"))
      .agg(count(lit(1)).as("rl"))
      .filter(col("rl") + lit(K - 1) >= L)
      .select("doc_id").distinct()
    val s6 = st(s5.join(dropContam, Seq("doc_id"), "left_anti"))

    // the (docs, tokens) ledger + the packing terminal (q395, 512)
    def census(df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(size(col("toks")).cast("long")), lit(0L))
          .as("n_tokens"))
    val stages = Seq(
      (0, "ingest", s0), (1, "quality", s1), (2, "perplexity", s2),
      (3, "loop_gate", s3), (4, "exact_dedup", s4),
      (5, "substring_rewrite", s5), (6, "contam_gate", s6))
    val ledger = stages.map { case (no, nm, cur) =>
      census(cur).select(lit(no).as("stage_no"), lit(nm).as("stage"),
        col("n_docs"), col("n_tokens"))
    }.reduce(_.unionAll(_))
    val pack = census(s6).select(lit(7).as("stage_no"),
      lit("pack_512").as("stage"),
      expr("(n_tokens + 511) div 512").as("n_docs"), col("n_tokens"))
    val out = graft.plans.Eager.ckpt(
      ledger.unionAll(pack).orderBy("stage_no"))
    st.release()
    out
  }

  /** Shared v2/v3 oracle front half (CTEs d..s3): the injections and
    * the three front gates, `withClone` adding the v3 near-clone CTE —
    * ONE SQL spelling mirroring [[frontStages]]. Returns already-
    * margin-stripped text for interpolation right after WITH. */
  private def frontSql(withClone: Boolean): String = {
    // NOTE: this builder returns MARGIN-BEARING text — the callers
    // interpolate it inside their own s"""...""".stripMargin, and a
    // pre-stripped block would have its '||' operators eaten by the
    // caller's stripMargin (the first '|' of a line becomes the margin)
    val cloneCte = if (!withClone) "" else
      """,
      |cl AS (
      |  SELECT bb.doc_id + 500000000000 AS doc_id,
      |    bb.toks || list_transform(range(1, 4),
      |      i -> 'cl' || CAST(bb.doc_id AS VARCHAR) || '_'
      |        || CAST(i AS VARCHAR)) AS toks
      |  FROM body bb WHERE bb.doc_id % 10 = 3)"""
    val cloneUnion = if (!withClone) "" else
      "\n      |  UNION ALL SELECT * FROM cl"
    s"""d AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |bench AS (SELECT * FROM d WHERE doc_id % 10 = 7),
      |body AS (SELECT * FROM d WHERE doc_id % 10 != 7),
      |wl AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 8 = 5 AND len(toks) >= 10
      |      THEN toks || toks[1:10] || toks[1:10] || toks[1:10]
      |      ELSE toks END AS toks
      |  FROM body),
      |wq AS (
      |  SELECT w.doc_id,
      |    CASE WHEN b.toks IS NOT NULL THEN w.toks || b.toks[1:30]
      |         ELSE w.toks END AS toks
      |  FROM wl w LEFT JOIN bench b ON b.doc_id = w.doc_id + 4),
      |noise AS (
      |  SELECT bb.doc_id + 300000000000 AS doc_id,
      |    list_transform(range(1, 41),
      |      i -> 'nf' || CAST(bb.doc_id AS VARCHAR) || '_'
      |        || CAST(i AS VARCHAR)) AS toks
      |  FROM body bb WHERE bb.doc_id % 9 = 4),
      |exc AS (
      |  SELECT bb.doc_id + 400000000000 AS doc_id,
      |    list_transform(range(1, 7),
      |      i -> 'xg' || CAST(bb.doc_id AS VARCHAR) || '_'
      |        || CAST(i AS VARCHAR))
      |    || bb.toks[5:28]
      |    || list_transform(range(1, 7),
      |      i -> 'yg' || CAST(bb.doc_id AS VARCHAR) || '_'
      |        || CAST(i AS VARCHAR)) AS toks
      |  FROM body bb WHERE bb.doc_id % 6 = 1 AND len(bb.toks) >= 28)$cloneCte,
      |s0 AS MATERIALIZED (
      |  SELECT * FROM wq
      |  UNION ALL SELECT * FROM noise
      |  UNION ALL SELECT * FROM exc$cloneUnion),
      |s1 AS MATERIALIZED (
      |  SELECT doc_id, toks FROM (
      |    SELECT doc_id, toks,
      |      len(toks) AS n_tokens,
      |      length(array_to_string(toks, ' ')) AS n_chars,
      |      len(list_filter(toks, t -> t IN ('the', 'a'))) AS n_stop
      |    FROM s0)
      |  WHERE least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.4
      |      + (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
      |      + least(1.0, CAST(n_chars AS DOUBLE) / 500.0) * 0.3 >= 0.5),
      |tok2 AS (SELECT doc_id, unnest(toks) AS token FROM s1),
      |vocab2 AS (SELECT token, COUNT(*) AS cnt FROM tok2 GROUP BY token),
      |lp2 AS (
      |  SELECT token,
      |    round(ln(cnt::DOUBLE / (SELECT SUM(cnt) FROM vocab2)), 9) AS lp
      |  FROM vocab2),
      |drop2 AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, round(-avg(lp), 6) + 0.0 AS avg_nll
      |    FROM tok2 JOIN lp2 USING (token) GROUP BY doc_id)
      |  WHERE avg_nll > 8.0),
      |s2 AS MATERIALIZED (
      |  SELECT * FROM s1
      |  WHERE doc_id NOT IN (SELECT doc_id FROM drop2)),
      |fps3 AS MATERIALIZED (
      |  SELECT doc_id, p,
      |    md5(array_to_string(toks[p + 1 : p + 8], ' ')) AS fp
      |  FROM (SELECT doc_id, toks,
      |          unnest(generate_series(0, len(toks) - 8)) AS p
      |        FROM s2 WHERE len(toks) >= 8)),
      |nxt3 AS (
      |  SELECT doc_id, p,
      |    lead(p) OVER (PARTITION BY doc_id, fp ORDER BY p) AS pn
      |  FROM fps3),
      |drop3 AS (
      |  SELECT DISTINCT doc_id FROM (
      |    SELECT doc_id, prd, iid, COUNT(*) AS rl
      |    FROM (SELECT doc_id, prd, p,
      |            p - row_number() OVER
      |              (PARTITION BY doc_id, prd ORDER BY p) AS iid
      |          FROM (SELECT doc_id, p, pn - p AS prd
      |                FROM nxt3 WHERE pn IS NOT NULL))
      |    GROUP BY doc_id, prd, iid
      |    HAVING COUNT(*) + 7 >= 16)),
      |s3 AS MATERIALIZED (
      |  SELECT * FROM s2
      |  WHERE doc_id NOT IN (SELECT doc_id FROM drop3))"""
  }

  val q400Sql: String =
    s"""WITH ${frontSql(false)},
      |fp4 AS (
      |  SELECT doc_id, toks, md5(array_to_string(toks, ' ')) AS fp
      |  FROM s3),
      |s4 AS MATERIALIZED (
      |  SELECT doc_id, toks FROM fp4
      |  WHERE doc_id IN (SELECT MIN(doc_id) FROM fp4 GROUP BY fp)),
      |m5 AS MATERIALIZED (
      |  SELECT doc_id, p,
      |    md5(array_to_string(toks[p + 1 : p + 8], ' ')) AS fp
      |  FROM (SELECT doc_id, toks,
      |          unnest(generate_series(0, len(toks) - 8)) AS p
      |        FROM s4 WHERE len(toks) >= 8)),
      |keep5 AS (
      |  SELECT fp FROM m5 GROUP BY fp
      |  HAVING COUNT(DISTINCT doc_id) <= 8),
      |mm5 AS MATERIALIZED (SELECT * FROM m5 JOIN keep5 USING (fp)),
      |runs5 AS (
      |  SELECT a_id, b_id, diag, COUNT(*) AS rl, MIN(ap) AS a0
      |  FROM (SELECT a_id, b_id, ap - bp AS diag, ap,
      |          ap - row_number() OVER
      |            (PARTITION BY a_id, b_id, ap - bp ORDER BY ap) AS iid
      |        FROM (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |                a.p AS ap, b.p AS bp
      |              FROM mm5 a JOIN mm5 b
      |                ON a.fp = b.fp AND a.doc_id < b.doc_id))
      |  GROUP BY a_id, b_id, diag, iid
      |  HAVING COUNT(*) + 7 >= 16),
      |spans5 AS (
      |  SELECT DISTINCT b_id AS doc_id, a0 - diag AS s,
      |    a0 - diag + rl + 6 AS e
      |  FROM runs5),
      |mk5 AS (
      |  SELECT doc_id, s, e,
      |    MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      |  FROM spans5),
      |g5 AS (
      |  SELECT doc_id, s, e,
      |    SUM(CASE WHEN pme IS NULL OR s > pme + 1 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY s, e
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM mk5),
      |regions5 AS (
      |  SELECT doc_id, grp, MIN(s) AS rs, MAX(e) AS re
      |  FROM g5 GROUP BY 1, 2),
      |regs5 AS (
      |  SELECT doc_id, list({'rs': rs, 're': re} ORDER BY rs, re) AS regs
      |  FROM regions5 GROUP BY doc_id),
      |s5 AS MATERIALIZED (
      |  SELECT t.doc_id,
      |    CASE WHEN r.regs IS NULL THEN t.toks
      |         ELSE list_filter(t.toks, (x, i) ->
      |           len(list_filter(r.regs,
      |             rg -> rg.rs <= i - 1 AND i - 1 <= rg.re)) = 0)
      |    END AS toks
      |  FROM s4 t LEFT JOIN regs5 r ON t.doc_id = r.doc_id),
      |bpos6 AS MATERIALIZED (
      |  SELECT md5(array_to_string(toks[p + 1 : p + 8], ' ')) AS fp,
      |    doc_id AS bench_id, p AS bp
      |  FROM (SELECT doc_id, toks,
      |          unnest(generate_series(0, len(toks) - 8)) AS p
      |        FROM bench WHERE len(toks) >= 8)),
      |bkeep6 AS (SELECT fp FROM bpos6 GROUP BY fp HAVING COUNT(*) <= 16),
      |bprobe6 AS (SELECT * FROM bpos6 JOIN bkeep6 USING (fp)),
      |cpos6 AS (
      |  SELECT doc_id, p AS cp,
      |    md5(array_to_string(toks[p + 1 : p + 8], ' ')) AS fp
      |  FROM (SELECT doc_id, toks,
      |          unnest(generate_series(0, len(toks) - 8)) AS p
      |        FROM s5 WHERE len(toks) >= 8)),
      |drop6 AS (
      |  SELECT DISTINCT doc_id FROM (
      |    SELECT doc_id, bench_id, diag, iid, COUNT(*) AS rl
      |    FROM (SELECT c.doc_id, b.bench_id, c.cp - b.bp AS diag, c.cp,
      |            c.cp - row_number() OVER (PARTITION BY c.doc_id,
      |              b.bench_id, c.cp - b.bp ORDER BY c.cp) AS iid
      |          FROM cpos6 c JOIN bprobe6 b USING (fp))
      |    GROUP BY doc_id, bench_id, diag, iid
      |    HAVING COUNT(*) + 7 >= 16)),
      |s6 AS MATERIALIZED (
      |  SELECT * FROM s5
      |  WHERE doc_id NOT IN (SELECT doc_id FROM drop6))
      |SELECT CAST(stage_no AS INTEGER) AS stage_no, stage,
      |  CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(n_tokens AS BIGINT) AS n_tokens
      |FROM (
      |  SELECT 0 AS stage_no, 'ingest' AS stage,
      |    (SELECT COUNT(*) FROM s0) AS n_docs,
      |    (SELECT COALESCE(SUM(len(toks)), 0) FROM s0) AS n_tokens
      |  UNION ALL SELECT 1, 'quality',
      |    (SELECT COUNT(*) FROM s1),
      |    (SELECT COALESCE(SUM(len(toks)), 0) FROM s1)
      |  UNION ALL SELECT 2, 'perplexity',
      |    (SELECT COUNT(*) FROM s2),
      |    (SELECT COALESCE(SUM(len(toks)), 0) FROM s2)
      |  UNION ALL SELECT 3, 'loop_gate',
      |    (SELECT COUNT(*) FROM s3),
      |    (SELECT COALESCE(SUM(len(toks)), 0) FROM s3)
      |  UNION ALL SELECT 4, 'exact_dedup',
      |    (SELECT COUNT(*) FROM s4),
      |    (SELECT COALESCE(SUM(len(toks)), 0) FROM s4)
      |  UNION ALL SELECT 5, 'substring_rewrite',
      |    (SELECT COUNT(*) FROM s5),
      |    (SELECT COALESCE(SUM(len(toks)), 0) FROM s5)
      |  UNION ALL SELECT 6, 'contam_gate',
      |    (SELECT COUNT(*) FROM s6),
      |    (SELECT COALESCE(SUM(len(toks)), 0) FROM s6)
      |  UNION ALL SELECT 7, 'pack_512',
      |    (SELECT (COALESCE(SUM(len(toks)), 0) + 511) // 512 FROM s6),
      |    (SELECT COALESCE(SUM(len(toks)), 0) FROM s6))
      |ORDER BY stage_no""".stripMargin

  // --------------------------------------------------------------- q432
  /** Curation ledger v3 (VERDICT r15 #2) — q400 re-ordered to the
    * decontam-FIRST ordering q430 certified, plus the cluster-collapse
    * stage q400 lacked: the span-contamination gate now runs BEFORE any
    * representative election (exact keep-min and the new q45-style
    * near-dup cluster collapse), so every elected representative is
    * clean by construction — q430's "min-id among clean members" policy
    * realized structurally rather than patched after the fact. Stage
    * order: ingest → quality (q23) → perplexity (q59/q391) →
    * self-repetition (q393) → span-contamination gate (q352) → exact
    * dedup (q19 keep-min) → near-dup cluster collapse (q22 banding +
    * Jaccard ≥ 0.5 verify + q45 connected components, one survivor per
    * component) → substring rewrite (q392 excision) → packing (q395).
    *
    * Two certificate rows close the loop on the audits that motivated
    * the reorder: `rescued_groups` counts the components whose MIN-id
    * member is contaminated but which have ≥ 1 clean member — exactly
    * the clusters q430 proved dedup-first erases and this ordering
    * keeps (n_tokens = the rescued clean representatives' token mass);
    * `residual_contam` re-runs the q352 detector on the FINAL corpus
    * (q392's residual-assertion discipline) — structurally zero, and
    * the ledger pins it as a measured zero, not a claim.
    *
    * Injections: q400's four (loop prey ≡5 mod 8, noise clones ≡4 mod
    * 9, excerpt clones ≡1 mod 6, benchmark quotes appended to ≡3 mod
    * 10) plus the rescue population — every contamination-prey doc
    * (≡3 mod 10) ALSO spawns a near-clone of its PRISTINE text at
    * +5·10¹¹ with a 3-token unique tail: the clone is clean and
    * Jaccard-≈(T−2)/(T+31) similar to its quote-carrying original, so
    * components with a dirty min-id representative and a clean sibling
    * are populated by construction.
    *
    * Exactness: the ledger is all-integer; the gate scores are the
    * proven q23/q59 chains; banding/Jaccard are the q22 spelling (ONE
    * SQL spelling via the shared MinHash fragment); components are
    * integer min-labels (the oracle recomputes them by recursive CTE,
    * the q430 spelling).
    *
    * Scale shape: every stage is the standalone registered plan behind
    * eager stage barriers (q154's convention); the new cluster stage is
    * the q22/q154 banded candidate join + the q45 CC contraction on
    * VERIFIED edges only (near-dup-scale, orders below doc-scale); the
    * rescue and residual rows are one group census and one re-run of
    * the broadcast benchmark probe. No all-pairs product anywhere. */
  def q432CurationV3(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.SubstringQueries.{BF, F, K, L}
    // stages 0-3 are the shared v2/v3 front half WITH the near-clone
    // rescue population — see [[frontStages]]
    val st = new StageCache
    val (bench, s0, s1, s2, s3) =
      frontStages(spark, dir, withClone = true, st)
    def positions(df: DataFrame): DataFrame = positionsOf(df)

    // the benchmark probe (q352's df-capped position artifact) and the
    // contamination verdict as a REUSABLE pass — run on s3 for the gate
    // and on the final corpus for the residual certificate
    // bprobe is materialized ONCE (r18): it is read by BOTH detector
    // passes (the s3 gate and the s7 residual certificate), and lazily it
    // re-derived the benchmark position census inside each pass's job.
    // BF-capped benchmark positions are an artifact-scale frame (q352's
    // index — the thing ContamStream freezes).
    val bpos = positions(bench)
      .select(col("fp"), col("doc_id").as("bench_id"), col("p").as("bp"))
    val bprobe = bpos.join(
      bpos.groupBy(col("fp")).agg(count(lit(1)).as("n"))
        .filter(col("n") <= BF).select(col("fp")), "fp")
      .localCheckpoint(true)
    def contamFlagged(df: DataFrame): DataFrame = positions(df)
      .select(col("fp"), col("doc_id"), col("p").as("cp"))
      .join(broadcast(bprobe), Seq("fp"))
      .withColumn("diag", col("cp") - col("bp"))
      .withColumn("iid", col("cp") - row_number().over(
        Window.partitionBy(col("doc_id"), col("bench_id"), col("diag"))
          .orderBy(col("cp"))))
      .groupBy(col("doc_id"), col("bench_id"), col("diag"), col("iid"))
      .agg(count(lit(1)).as("rl"))
      .filter(col("rl") + lit(K - 1) >= L)
      .select("doc_id").distinct()

    // the near-dup component labels over the PRE-gate corpus (s3): the
    // q22 banded candidate join + exact-Jaccard verify + q45 CC. Labels
    // over s3 (not s5) so the rescue census can compare the dirty-blind
    // min-id representative against the clean election.
    // checkpointed, not persisted: sh6 feeds the ITERATIVE CC
    // contraction, whose per-round plans would otherwise re-embed the
    // whole upstream lineage (see the StageCache scaladoc)
    val sh6 = s3.select(col("doc_id"), shingles(col("toks"), 3).as("sh"))
      .localCheckpoint(true)
    val edges = graft.operators.BandStore.candidatePairs(sh6)
      .join(sh6.select(col("doc_id").as("a"), col("sh").as("a_sh")), "a")
      .join(sh6.select(col("doc_id").as("b"), col("sh").as("b_sh")), "b")
      .filter(jaccard(col("a_sh"), col("b_sh")) >= JaccardMin)
      .select(col("a"), col("b"))
    // the contamination probe on s3 and the CC contraction are
    // independent given (s3, sh6) — overlap them (guide §2.6, the
    // q430/q437 discipline): the probe checkpoints on a worker thread
    // while the barrier-laden CC rounds run on the driver thread.
    // Byte-identical — the same jobs, just concurrent.
    val (comp, dirty) = graft.plans.Overlap.two(
      graft.operators.DupClusters
        .connectedComponents(edges, "a", "b")
        .select(col("node").as("doc_id"), col("comp"))
        .localCheckpoint(true),
      contamFlagged(s3).localCheckpoint(true))

    // stage 4 — span-contamination gate FIRST (q430's certified order)
    val s4 = st(s3.join(dirty, Seq("doc_id"), "left_anti"))

    // stage 5 — exact dedup (q19 keep-min, now electing among clean
    // docs); window-min election as q400's stage 4 (r18)
    val fp5 = s4.withColumn("fp", md5(array_join(col("toks"), " ")))
    val s5 = st(fp5
      .withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .filter(col("doc_id") === col("keep_id"))
      .select("doc_id", "toks"))

    // stage 6 — near-dup cluster collapse: one survivor per component,
    // min-id among the (all-clean) survivors = q430's clean-sibling
    // election, group-atomic via the s3 component labels
    val grp5 = s5.join(comp, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("comp"), col("doc_id")))
    val s6 = st(grp5
      .withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy(col("grp"))))
      .filter(col("doc_id") === col("keep_id"))
      .select("doc_id", "toks"))

    // stage 7 — substring rewrite (q392's excision, as q400's stage 5)
    val m7 = positions(s6)
    val keep7 = m7.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= F).select(col("fp"))
    val mm7 = st(m7.join(keep7, "fp"))
    val runs7 = mm7.select(col("fp"), col("doc_id").as("a_id"),
        col("p").as("ap"))
      .join(mm7.select(col("fp"), col("doc_id").as("b_id"),
        col("p").as("bp")), Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("diag", col("ap") - col("bp"))
      .withColumn("iid", col("ap") - row_number().over(
        Window.partitionBy(col("a_id"), col("b_id"), col("diag"))
          .orderBy(col("ap"))))
      .groupBy(col("a_id"), col("b_id"), col("diag"), col("iid"))
      .agg(count(lit(1)).as("rl"), min(col("ap")).as("a0"))
      .filter(col("rl") + lit(K - 1) >= L)
    val spans7 = runs7
      .select(col("b_id").as("doc_id"), (col("a0") - col("diag")).as("s"),
        (col("a0") - col("diag") + col("rl") + lit(K - 2)).as("e"))
      .distinct()
    val w7 = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val regs7 = spans7
      .withColumn("pme", max(col("e")).over(
        w7.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("grp", sum(when(col("pme").isNull ||
        col("s") > col("pme") + 1, 1L).otherwise(0L)).over(
        w7.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("s")).as("rs"), max(col("e")).as("re"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("rs"), col("re"))))
        .as("regs"))
    val s7 = st(s6.join(regs7, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("regs").isNull, col("toks"))
          .otherwise(expr(
            "filter(toks, (x, i) -> NOT exists(regs, r -> i >= r.rs AND i <= r.re))"))
          .as("toks")))

    // rescue census: components whose dirty-blind min-id representative
    // is contaminated but which have >= 1 clean member — the clusters
    // q430 proved dedup-first erases; n_tokens = the clean reps' mass
    val flagged = s3.select(col("doc_id"), size(col("toks")).as("ntok"))
      .join(dirty.withColumn("isd", lit(1)), Seq("doc_id"), "left")
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ntok"),
        col("isd").isNotNull.as("is_dirty"),
        coalesce(col("comp"), col("doc_id")).as("grp"))
    val groups = flagged.groupBy(col("grp"))
      .agg(sum(when(!col("is_dirty"), 1L).otherwise(0L)).as("n_clean"),
        min(col("doc_id")).as("rep"),
        min(when(!col("is_dirty"), col("doc_id"))).as("clean_rep"))
    val rescued = groups
      .filter(col("n_clean") > 0 && col("rep") =!= col("clean_rep"))
    val rescRow = rescued
      .join(flagged.select(col("doc_id").as("clean_rep"), col("ntok")),
        "clean_rep")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("ntok").cast("long")), lit(0L)).as("n_tokens"))

    // residual certificate: the q352 detector re-run on the FINAL corpus
    val resid = contamFlagged(s7)
    val residRow = s7.join(resid, Seq("doc_id"), "leftsemi")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(size(col("toks")).cast("long")), lit(0L))
          .as("n_tokens"))

    def census(df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(size(col("toks")).cast("long")), lit(0L))
          .as("n_tokens"))
    val stages = Seq(
      (0, "ingest", s0), (1, "quality", s1), (2, "perplexity", s2),
      (3, "loop_gate", s3), (4, "contam_gate", s4),
      (5, "exact_dedup", s5), (6, "cluster_collapse", s6),
      (7, "substring_rewrite", s7))
    val ledger = stages.map { case (no, nm, cur) =>
      census(cur).select(lit(no).as("stage_no"), lit(nm).as("stage"),
        col("n_docs"), col("n_tokens"))
    }.reduce(_.unionAll(_))
    val pack = census(s7).select(lit(8).as("stage_no"),
      lit("pack_512").as("stage"),
      expr("(n_tokens + 511) div 512").as("n_docs"), col("n_tokens"))
    val resc = rescRow.select(lit(9).as("stage_no"),
      lit("rescued_groups").as("stage"), col("n_docs"), col("n_tokens"))
    val residual = residRow.select(lit(10).as("stage_no"),
      lit("residual_contam").as("stage"), col("n_docs"), col("n_tokens"))
    val out = graft.plans.Eager.ckpt(
      ledger.unionAll(pack).unionAll(resc).unionAll(residual)
        .orderBy("stage_no"))
    st.release()
    out
  }

  val q432Sql: String =
    s"""WITH RECURSIVE ${frontSql(true)},
      |bpos AS MATERIALIZED (
      |  SELECT md5(array_to_string(toks[p + 1 : p + 8], ' ')) AS fp,
      |    doc_id AS bench_id, p AS bp
      |  FROM (SELECT doc_id, toks,
      |          unnest(generate_series(0, len(toks) - 8)) AS p
      |        FROM bench WHERE len(toks) >= 8)),
      |bkeep AS (SELECT fp FROM bpos GROUP BY fp HAVING COUNT(*) <= 16),
      |bprobe AS (SELECT * FROM bpos JOIN bkeep USING (fp)),
      |cpos4 AS (
      |  SELECT doc_id, p AS cp,
      |    md5(array_to_string(toks[p + 1 : p + 8], ' ')) AS fp
      |  FROM (SELECT doc_id, toks,
      |          unnest(generate_series(0, len(toks) - 8)) AS p
      |        FROM s3 WHERE len(toks) >= 8)),
      |dirty AS (
      |  SELECT DISTINCT doc_id FROM (
      |    SELECT doc_id, bench_id, diag, iid, COUNT(*) AS rl
      |    FROM (SELECT c.doc_id, b.bench_id, c.cp - b.bp AS diag, c.cp,
      |            c.cp - row_number() OVER (PARTITION BY c.doc_id,
      |              b.bench_id, c.cp - b.bp ORDER BY c.cp) AS iid
      |          FROM cpos4 c JOIN bprobe b USING (fp))
      |    GROUP BY doc_id, bench_id, diag, iid
      |    HAVING COUNT(*) + 7 >= 16)),
      |s3t AS (SELECT doc_id, array_to_string(toks, ' ') AS text FROM s3),
      |${DocQueries.minhashPairsSqlFragment("s3t")},
      |nedges AS (
      |  SELECT a_id AS a, b_id AS b FROM pairs WHERE jaccard >= 0.5),
      |sym AS (
      |  SELECT a AS src, b AS dst FROM nedges
      |  UNION
      |  SELECT b, a FROM nedges),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM sym
      |  UNION
      |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
      |comp AS (
      |  SELECT src AS node, LEAST(src, MIN(dst)) AS comp
      |  FROM reach GROUP BY src),
      |s4 AS MATERIALIZED (
      |  SELECT * FROM s3
      |  WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
      |fp5 AS (
      |  SELECT doc_id, toks, md5(array_to_string(toks, ' ')) AS fp
      |  FROM s4),
      |s5 AS MATERIALIZED (
      |  SELECT doc_id, toks FROM fp5
      |  WHERE doc_id IN (SELECT MIN(doc_id) FROM fp5 GROUP BY fp)),
      |grp5 AS (
      |  SELECT s5.doc_id, s5.toks, COALESCE(c.comp, s5.doc_id) AS grp
      |  FROM s5 LEFT JOIN comp c ON s5.doc_id = c.node),
      |s6 AS MATERIALIZED (
      |  SELECT doc_id, toks FROM grp5
      |  WHERE doc_id IN (SELECT MIN(doc_id) FROM grp5 GROUP BY grp)),
      |m7 AS MATERIALIZED (
      |  SELECT doc_id, p,
      |    md5(array_to_string(toks[p + 1 : p + 8], ' ')) AS fp
      |  FROM (SELECT doc_id, toks,
      |          unnest(generate_series(0, len(toks) - 8)) AS p
      |        FROM s6 WHERE len(toks) >= 8)),
      |keep7 AS (
      |  SELECT fp FROM m7 GROUP BY fp
      |  HAVING COUNT(DISTINCT doc_id) <= 8),
      |mm7 AS MATERIALIZED (SELECT * FROM m7 JOIN keep7 USING (fp)),
      |runs7 AS (
      |  SELECT a_id, b_id, diag, COUNT(*) AS rl, MIN(ap) AS a0
      |  FROM (SELECT a_id, b_id, ap - bp AS diag, ap,
      |          ap - row_number() OVER
      |            (PARTITION BY a_id, b_id, ap - bp ORDER BY ap) AS iid
      |        FROM (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |                a.p AS ap, b.p AS bp
      |              FROM mm7 a JOIN mm7 b
      |                ON a.fp = b.fp AND a.doc_id < b.doc_id))
      |  GROUP BY a_id, b_id, diag, iid
      |  HAVING COUNT(*) + 7 >= 16),
      |spans7 AS (
      |  SELECT DISTINCT b_id AS doc_id, a0 - diag AS s,
      |    a0 - diag + rl + 6 AS e
      |  FROM runs7),
      |mk7 AS (
      |  SELECT doc_id, s, e,
      |    MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      |  FROM spans7),
      |g7 AS (
      |  SELECT doc_id, s, e,
      |    SUM(CASE WHEN pme IS NULL OR s > pme + 1 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY s, e
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM mk7),
      |regions7 AS (
      |  SELECT doc_id, grp, MIN(s) AS rs, MAX(e) AS re
      |  FROM g7 GROUP BY 1, 2),
      |regs7 AS (
      |  SELECT doc_id, list({'rs': rs, 're': re} ORDER BY rs, re) AS regs
      |  FROM regions7 GROUP BY doc_id),
      |s7 AS MATERIALIZED (
      |  SELECT t.doc_id,
      |    CASE WHEN r.regs IS NULL THEN t.toks
      |         ELSE list_filter(t.toks, (x, i) ->
      |           len(list_filter(r.regs,
      |             rg -> rg.rs <= i - 1 AND i - 1 <= rg.re)) = 0)
      |    END AS toks
      |  FROM s6 t LEFT JOIN regs7 r ON t.doc_id = r.doc_id),
      |cpos8 AS (
      |  SELECT doc_id, p AS cp,
      |    md5(array_to_string(toks[p + 1 : p + 8], ' ')) AS fp
      |  FROM (SELECT doc_id, toks,
      |          unnest(generate_series(0, len(toks) - 8)) AS p
      |        FROM s7 WHERE len(toks) >= 8)),
      |resid AS (
      |  SELECT DISTINCT doc_id FROM (
      |    SELECT doc_id, bench_id, diag, iid, COUNT(*) AS rl
      |    FROM (SELECT c.doc_id, b.bench_id, c.cp - b.bp AS diag, c.cp,
      |            c.cp - row_number() OVER (PARTITION BY c.doc_id,
      |              b.bench_id, c.cp - b.bp ORDER BY c.cp) AS iid
      |          FROM cpos8 c JOIN bprobe b USING (fp))
      |    GROUP BY doc_id, bench_id, diag, iid
      |    HAVING COUNT(*) + 7 >= 16)),
      |flagged AS (
      |  SELECT s3.doc_id, len(s3.toks) AS ntok,
      |    CASE WHEN s3.doc_id IN (SELECT doc_id FROM dirty)
      |      THEN 1 ELSE 0 END AS dirty,
      |    COALESCE(c.comp, s3.doc_id) AS grp
      |  FROM s3 LEFT JOIN comp c ON s3.doc_id = c.node),
      |groups AS (
      |  SELECT grp, CAST(SUM(1 - dirty) AS BIGINT) AS n_clean,
      |    MIN(doc_id) AS rep,
      |    MIN(CASE WHEN dirty = 0 THEN doc_id END) AS clean_rep
      |  FROM flagged GROUP BY grp),
      |resc AS (
      |  SELECT f.ntok
      |  FROM groups g JOIN flagged f ON f.doc_id = g.clean_rep
      |  WHERE g.n_clean > 0 AND g.rep <> g.clean_rep)
      |SELECT CAST(stage_no AS INTEGER) AS stage_no, stage,
      |  CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(n_tokens AS BIGINT) AS n_tokens
      |FROM (
      |  SELECT 0 AS stage_no, 'ingest' AS stage,
      |    (SELECT COUNT(*) FROM s0) AS n_docs,
      |    (SELECT COALESCE(SUM(len(toks)), 0) FROM s0) AS n_tokens
      |  UNION ALL SELECT 1, 'quality',
      |    (SELECT COUNT(*) FROM s1),
      |    (SELECT COALESCE(SUM(len(toks)), 0) FROM s1)
      |  UNION ALL SELECT 2, 'perplexity',
      |    (SELECT COUNT(*) FROM s2),
      |    (SELECT COALESCE(SUM(len(toks)), 0) FROM s2)
      |  UNION ALL SELECT 3, 'loop_gate',
      |    (SELECT COUNT(*) FROM s3),
      |    (SELECT COALESCE(SUM(len(toks)), 0) FROM s3)
      |  UNION ALL SELECT 4, 'contam_gate',
      |    (SELECT COUNT(*) FROM s4),
      |    (SELECT COALESCE(SUM(len(toks)), 0) FROM s4)
      |  UNION ALL SELECT 5, 'exact_dedup',
      |    (SELECT COUNT(*) FROM s5),
      |    (SELECT COALESCE(SUM(len(toks)), 0) FROM s5)
      |  UNION ALL SELECT 6, 'cluster_collapse',
      |    (SELECT COUNT(*) FROM s6),
      |    (SELECT COALESCE(SUM(len(toks)), 0) FROM s6)
      |  UNION ALL SELECT 7, 'substring_rewrite',
      |    (SELECT COUNT(*) FROM s7),
      |    (SELECT COALESCE(SUM(len(toks)), 0) FROM s7)
      |  UNION ALL SELECT 8, 'pack_512',
      |    (SELECT (COALESCE(SUM(len(toks)), 0) + 511) // 512 FROM s7),
      |    (SELECT COALESCE(SUM(len(toks)), 0) FROM s7)
      |  UNION ALL SELECT 9, 'rescued_groups',
      |    (SELECT COUNT(*) FROM resc),
      |    (SELECT COALESCE(SUM(ntok), 0) FROM resc)
      |  UNION ALL SELECT 10, 'residual_contam',
      |    (SELECT COUNT(*) FROM s7
      |     WHERE doc_id IN (SELECT doc_id FROM resid)),
      |    (SELECT COALESCE(SUM(len(toks)), 0) FROM s7
      |     WHERE doc_id IN (SELECT doc_id FROM resid)))
      |ORDER BY stage_no""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q154_curation_pipeline", q154CurationPipeline _, q154Sql),
    Query("q400_curation_v2", q400CurationV2 _, q400Sql),
    Query("q432_curation_v3", q432CurationV3 _, q432Sql))
}
