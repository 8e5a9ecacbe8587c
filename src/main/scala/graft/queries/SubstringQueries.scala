package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.TextFunctions._

/** Corpus SUBSTRING-level dedup (VERDICT r13 #6 — the last uncovered
  * dedup modality): long duplicated token spans ACROSS documents, the
  * suffix-array family of training-data curation (exact doc dedup q19
  * misses excerpts; span dedup q85 only sees fixed 16-token chunk
  * boundaries; near-dup q22 scores whole documents). The suffix-array
  * machinery re-expresses relationally as a k-shingle POSITION chain:
  * two documents sharing an L-token span share L−k+1 consecutive
  * k-shingles on one alignment diagonal, so stitching matched shingle
  * positions with gaps-and-islands (the q292 streak pattern applied to
  * alignment diagonals) recovers every maximal shared span exactly —
  * for spans ≥ k, with no suffix array ever built.
  */
object SubstringQueries {

  /** Shingle length: spans shorter than K are invisible (the standard
    * suffix-automaton min-match); K = 8 tokens. */
  private[graft] val K = 8
  /** Document-frequency cap: shingles occurring in more than F docs are
    * boilerplate, not provenance — they would quadratically inflate the
    * position join (every cross pair of occurrences) while stitching
    * into spans every pair shares. Dropping them breaks only spans made
    * PURELY of ubiquitous shingles; Lee et al.-style suffix dedup
    * applies the same frequency pruning. */
  private[graft] val F = 8
  /** Report pairs whose longest shared span reaches L tokens. */
  private[graft] val L = 16

  /** Shared stage chain of the substring family (q350/q351/q392): the
    * maximal shared-run table. Tokenize → position-indexed K-shingle
    * fingerprints → df-cap → cross-doc position join → gaps-and-islands
    * stitch on the alignment diagonal. Returns (runsDf, release) where
    * `release` unpersists the capped position table — callers invoke it
    * after materializing their rollup (the q26 multi-consumer
    * convention: the position table feeds both sides of the join). */
  private def sharedRuns(spark: SparkSession, dir: String)
      : (DataFrame, () => Unit) =
    sharedRunsFrom(spark, DocQueries.corpusWithNearDups(spark, dir)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks")))

  /** [[sharedRuns]] over an arbitrary tokenized corpus (doc_id, toks) —
    * the detector itself, reusable against a REWRITTEN corpus (q392's
    * re-certification pass runs the identical chain on the cleaned
    * output). */
  private def sharedRunsFrom(spark: SparkSession, toksDf: DataFrame)
      : (DataFrame, () => Unit) = {
    val par = spark.sparkContext.defaultParallelism
    val d = toksDf
      .filter(size(col("toks")) >= K)
      .repartition(par, col("doc_id"))
    val sh = d.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("toks")) - K),
          i => md5(array_join(slice(col("toks"), i + lit(1), lit(K)), " "))))
          .as(Seq("p", "fp")))
    val keep = sh.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= F).select(col("fp"))
    val m = sh.join(keep, "fp")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val matches = m.select(col("fp"), col("doc_id").as("a_id"),
        col("p").as("ap"))
      .join(m.select(col("fp"), col("doc_id").as("b_id"),
        col("p").as("bp")), Seq("fp"))
      .filter(col("a_id") < col("b_id"))
    // gaps-and-islands on the alignment diagonal (q292's streak id):
    // consecutive shared shingles advance ap and bp together, so
    // ap − row_number is constant exactly along one maximal run
    val isl = matches.withColumn("diag", col("ap") - col("bp"))
      .withColumn("iid", col("ap") - row_number().over(
        Window.partitionBy(col("a_id"), col("b_id"), col("diag"))
          .orderBy(col("ap"))))
    val runs = isl.groupBy(col("a_id"), col("b_id"), col("diag"), col("iid"))
      .agg(count(lit(1)).as("rl"), min(col("ap")).as("a0"))
      .withColumn("b0", col("a0") - col("diag"))
    (runs, () => { m.unpersist(); () })
  }

  /** SQL twin of [[sharedRunsFrom]]: the detector chain from a prior
    * tokens CTE `$toksCte` (doc_id, toks) to `runs$sfx`
    * (a_id, b_id, diag, rl, a0, b0); CTE names suffixed so q392 can run
    * the chain twice (original + cleaned corpus) in one statement. */
  private def runsChainSql(toksCte: String, sfx: String): String =
    s"""sh$sfx AS (
      |  SELECT doc_id, unnest(generate_series(0, len(toks) - $K)) AS p,
      |    toks
      |  FROM $toksCte WHERE len(toks) >= $K),
      |fps$sfx AS MATERIALIZED (
      |  SELECT doc_id, p,
      |    md5(array_to_string(toks[p + 1 : p + $K], ' ')) AS fp
      |  FROM sh$sfx),
      |keep$sfx AS (
      |  SELECT fp FROM fps$sfx GROUP BY fp
      |  HAVING COUNT(DISTINCT doc_id) <= $F),
      |m$sfx AS MATERIALIZED (SELECT * FROM fps$sfx JOIN keep$sfx USING (fp)),
      |matches$sfx AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.p AS ap, b.p AS bp
      |  FROM m$sfx a JOIN m$sfx b ON a.fp = b.fp AND a.doc_id < b.doc_id),
      |isl$sfx AS (
      |  SELECT a_id, b_id, ap - bp AS diag, ap,
      |    ap - row_number() OVER (
      |      PARTITION BY a_id, b_id, ap - bp ORDER BY ap) AS iid
      |  FROM matches$sfx),
      |runs$sfx AS (
      |  SELECT a_id, b_id, diag, COUNT(*) AS rl, MIN(ap) AS a0,
      |    MIN(ap) - diag AS b0
      |  FROM isl$sfx GROUP BY a_id, b_id, diag, iid)""".stripMargin

  /** SQL twin of [[sharedRuns]]: CTE chain ending in `runs`
    * (a_id, b_id, diag, rl, a0, b0); interpolate after WITH. */
  private val sharedRunsCte: String =
    s"""corpus AS (${DocQueries.corpusNearDupSql}),
      |d AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      |  FROM corpus WHERE length(trim(text)) > 0),
      |${runsChainSql("d", "")}""".stripMargin

  // --------------------------------------------------------------- q350
  /** Longest-shared-span census per cross-document pair over the
    * near-dup corpus (q45's fixture shape — clones guarantee known long
    * spans; organic raw-corpus repeats surface beside them): per pair
    * with a span ≥ L, the island count, total matched shingle
    * positions, the longest span's token length, and its start
    * positions in both documents.
    *
    * Exactness: positions, diagonals, run lengths, and starts are all
    * integers; the longest-island pick is the lexicographic max-struct
    * (run_len, −a_start, −b_start) — unique per pair since two islands
    * of one pair cannot share (a_start, b_start); no floating point
    * anywhere.
    *
    * Scale shape: shingling is array-level per doc (no shuffle); the
    * df-cap and the position join key on the md5 hex fingerprint, so
    * the two span-keyed exchanges never carry span text (q55's lesson);
    * the cap bounds each fingerprint's cross-doc fan-out at F docs →
    * ≤ F²/2 doc pairs per position — candidate volume stays linear in
    * total positions. The stitching window partitions by (pair,
    * diagonal) — bounded by one document's length, never the corpus.
    * The island → pair rollups are map-side-combinable aggs. */
  def q350SubstringDedup(spark: SparkSession, dir: String): DataFrame = {
    val (runs, release) = sharedRuns(spark, dir)
    val out = graft.plans.Eager.ckpt(runs.groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("rl")).as("n_matched_shingles"),
        max(struct(col("rl"), (-col("a0")).as("na"), (-col("b0")).as("nb")))
          .as("m"))
      .select(col("a_id"), col("b_id"), col("n_islands"),
        col("n_matched_shingles"),
        (col("m.rl") + lit(K - 1)).as("longest_span_tokens"),
        (-col("m.na")).cast("long").as("a_start"),
        (-col("m.nb")).cast("long").as("b_start"))
      .filter(col("longest_span_tokens") >= L)
      .orderBy("a_id", "b_id"))
    release()
    out
  }

  val q350Sql: String =
    s"""WITH $sharedRunsCte,
      |best AS (
      |  SELECT a_id, b_id, rl, a0, b0,
      |    row_number() OVER (PARTITION BY a_id, b_id
      |      ORDER BY rl DESC, a0, b0) AS rn
      |  FROM runs),
      |pairs AS (
      |  SELECT a_id, b_id, COUNT(*) AS n_islands,
      |    CAST(SUM(rl) AS BIGINT) AS n_matched_shingles
      |  FROM runs GROUP BY 1, 2)
      |SELECT p.a_id, p.b_id, p.n_islands, p.n_matched_shingles,
      |  CAST(b.rl + ${K - 1} AS BIGINT) AS longest_span_tokens,
      |  CAST(b.a0 AS BIGINT) AS a_start, CAST(b.b0 AS BIGINT) AS b_start
      |FROM pairs p JOIN best b
      |  ON p.a_id = b.a_id AND p.b_id = b.b_id AND b.rn = 1
      |WHERE b.rl + ${K - 1} >= $L
      |ORDER BY p.a_id, p.b_id""".stripMargin

  // --------------------------------------------------------------- q351
  /** Per-document substring REMOVAL mask — the actionable half of q350
    * (what a Lee et al.-style curation pass actually deletes): for every
    * document that shares a span ≥ L with an EARLIER document (smaller
    * doc_id keeps, q85's winner discipline), the union of its removable
    * token intervals — interval count after merging
    * overlapping/adjacent spans, covered token total, and the removable
    * fraction of the document.
    *
    * Exactness: interval endpoints are integers; the union is the
    * classic sweep — per doc, an EXCLUSIVE running max of interval ends
    * (q319's predecessor idiom) marks region starts, a running sum
    * numbers regions, min/max per region give exact union length; the
    * only double is the final 6-dp-snapped fraction.
    *
    * Scale shape: rides [[sharedRuns]] (measured linear, SCALE_NOTES
    * r14); the sweep windows partition per DOCUMENT over that doc's
    * interval list (bounded by doc length / L, never the corpus); both
    * rollups are map-side-combinable aggs; the length join is a hash
    * equi-join on doc_id. */
  /** Interval-union sweep shared by q351/q352: merge a document's
    * overlapping/adjacent [s, e] token intervals and report the exact
    * union — (doc_id, n_regions, covered_tokens). Per-doc windows over
    * that doc's interval list (bounded by doc length / L); the region
    * rollups are map-side-combinable aggs. */
  private[queries] def intervalSweep(spans: DataFrame): DataFrame =
    mergedRegions(spans)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_regions"),
        sum(col("re") - col("rs") + 1).as("covered_tokens"))

  /** The merged-interval half of [[intervalSweep]]: per-doc disjoint
    * regions (doc_id, rs, re) after the union sweep — q392 needs the
    * regions themselves (to excise), not just their totals. */
  private def mergedRegions(spans: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val marked = spans
      .withColumn("pme", max(col("e")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("grp", sum(
        when(col("pme").isNull || col("s") > col("pme") + 1, 1L)
          .otherwise(0L)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    marked.groupBy(col("doc_id"), col("grp"))
      .agg(min(col("s")).as("rs"), max(col("e")).as("re"))
  }

  /** SQL twin of [[intervalSweep]]: CTE chain over a prior `spans`
    * (doc_id, s, e) ending in `cov` (doc_id, n_regions, covered_tokens). */
  private[queries] val sweepCte: String =
    """mk AS (
      |  SELECT doc_id, s, e,
      |    MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      |  FROM spans),
      |g AS (
      |  SELECT doc_id, s, e,
      |    SUM(CASE WHEN pme IS NULL OR s > pme + 1 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY s, e
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM mk),
      |regions AS (
      |  SELECT doc_id, grp, MIN(s) AS rs, MAX(e) AS re
      |  FROM g GROUP BY 1, 2),
      |cov AS (
      |  SELECT doc_id, COUNT(*) AS n_regions,
      |    CAST(SUM(re - rs + 1) AS BIGINT) AS covered_tokens
      |  FROM regions GROUP BY 1)""".stripMargin

  def q351RemovalMask(spark: SparkSession, dir: String): DataFrame = {
    val (runs, release) = sharedRuns(spark, dir)
    val spans = runs.filter(col("rl") + lit(K - 1) >= L)
      .select(col("b_id").as("doc_id"), col("b0").as("s"),
        (col("b0") + col("rl") + lit(K - 2)).as("e"))
      .distinct()
    val cover = intervalSweep(spans)
    val lens = DocQueries.corpusWithNearDups(spark, dir)
      .select(col("doc_id"),
        size(tokens(lower(col("text")))).cast("long").as("n_tokens"))
    val out = graft.plans.Eager.ckpt(cover.join(lens, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_regions"),
        col("covered_tokens"),
        (round(col("covered_tokens").cast("double") /
          col("n_tokens").cast("double"), 6) + lit(0.0))
          .as("removable_frac"))
      .orderBy("doc_id"))
    release()
    out
  }

  val q351Sql: String =
    s"""WITH $sharedRunsCte,
      |spans AS (
      |  SELECT DISTINCT b_id AS doc_id, b0 AS s, b0 + rl + ${K - 2} AS e
      |  FROM runs WHERE rl + ${K - 1} >= $L),
      |$sweepCte,
      |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM d)
      |SELECT c.doc_id, l.n_tokens, c.n_regions, c.covered_tokens,
      |  round(CAST(c.covered_tokens AS DOUBLE)
      |    / CAST(l.n_tokens AS DOUBLE), 6) + 0.0 AS removable_frac
      |FROM cov c JOIN lens l ON c.doc_id = l.doc_id
      |ORDER BY c.doc_id""".stripMargin

  // --------------------------------------------------------------- q352
  /** Boilerplate cap on the BENCH side of q352: fingerprints occurring at
    * more than BF benchmark positions are boilerplate phrases, not leaks;
    * dropping them bounds each corpus position's probe fan-out at BF. */
  private[graft] val BF = 16

  /** Span-level benchmark contamination — the verbatim-leak modality the
    * set-overlap decontam (q48/q116) misses: a doc quoting one long
    * benchmark passage has low distinct-shingle overlap_frac yet is
    * exactly what eval contamination looks like (the GPT-3 n-gram-span
    * discipline). Benchmark = the q48 derived holdout (doc_id % 10 == 7);
    * the fixture additionally injects a known leak — every corpus doc
    * with doc_id % 10 == 3 gets the first 30 tokens of benchmark doc
    * (doc_id + 4) appended — so contaminated spans exist by construction
    * in BOTH engines. Per contaminated corpus doc: merged contaminated
    * region count, contaminated token total (interval union across ALL
    * benchmark matches), longest single contaminated span, and the
    * contaminated fraction.
    *
    * Exactness: positions/diagonals/run lengths are integers; the union
    * is [[intervalSweep]]; the only double is the 6-dp-snapped fraction.
    *
    * Scale shape: UNLIKE q350's corpus self-join, the probe side here is
    * the benchmark — thousands of docs against a 100 TB corpus — so the
    * capped benchmark position table is BROADCAST and the corpus
    * fingerprint stream probes it map-side: zero shuffle until the
    * stitching window (keyed by corpus doc), whose partitions are bounded
    * by one document's match list (≤ BF hits per position). The q48
    * broadcast-holdout posture applied position-wise. */
  /** q352's probe chain, shared with q404's bench-side rollup:
    * (runs, corp, bench, release) where runs =
    * (doc_id, bench_id, diag, rl, c0) for every leaked span ≥ L. */
  private def contamRuns(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, () => Unit) = {
    val par = spark.sparkContext.defaultParallelism
    val toksrc = spark.read.parquet(s"$dir/documents.parquet")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
    val bench = toksrc.filter(col("doc_id") % 10 === 7)
    // fixture leak injection: corpus doc 10k+3 quotes bench doc 10k+7
    val corp = toksrc.filter(col("doc_id") % 10 =!= 7)
      .join(broadcast(bench.select((col("doc_id") - 4).as("doc_id"),
        col("toks").as("btoks"))), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("btoks").isNotNull,
          concat(col("toks"), slice(col("btoks"), 1, 30)))
          .otherwise(col("toks")).as("toks"))
      .filter(size(col("toks")) >= K)
      .repartition(par, col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def fps(d: DataFrame, id: String, p: String): DataFrame =
      d.select(col("doc_id").as(id),
        posexplode(transform(sequence(lit(0), size(col("toks")) - K),
          i => md5(array_join(slice(col("toks"), i + lit(1), lit(K)), " "))))
          .as(Seq(p, "fp")))
    val bpos = fps(bench.filter(size(col("toks")) >= K), "bench_id", "bp")
    val bprobe = bpos.join(
      bpos.groupBy(col("fp")).agg(count(lit(1)).as("n"))
        .filter(col("n") <= BF).select(col("fp")), "fp")
    val matches = fps(corp, "doc_id", "cp").join(broadcast(bprobe), Seq("fp"))
    val isl = matches.withColumn("diag", col("cp") - col("bp"))
      .withColumn("iid", col("cp") - row_number().over(
        Window.partitionBy(col("doc_id"), col("bench_id"), col("diag"))
          .orderBy(col("cp"))))
    val runs = isl
      .groupBy(col("doc_id"), col("bench_id"), col("diag"), col("iid"))
      .agg(count(lit(1)).as("rl"), min(col("cp")).as("c0"))
      .filter(col("rl") + lit(K - 1) >= L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (runs, corp, bench,
      () => { runs.unpersist(); corp.unpersist(); () })
  }

  def q352ContamSpans(spark: SparkSession, dir: String): DataFrame = {
    val (runs, corp, _, release) = contamRuns(spark, dir)
    val cover = intervalSweep(runs.select(col("doc_id"), col("c0").as("s"),
      (col("c0") + col("rl") + lit(K - 2)).as("e")).distinct())
    val longest = runs.groupBy(col("doc_id"))
      .agg((max(col("rl")) + lit(K - 1)).as("longest_contam_tokens"))
    val lens = corp.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"))
    val out = graft.plans.Eager.ckpt(cover.join(longest, "doc_id")
      .join(lens, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_regions"),
        col("covered_tokens").as("contam_tokens"),
        col("longest_contam_tokens"),
        (round(col("covered_tokens").cast("double") /
          col("n_tokens").cast("double"), 6) + lit(0.0))
          .as("contam_frac"))
      .orderBy("doc_id"))
    release()
    out
  }

  // --------------------------------------------------------------- q404
  /** Per-benchmark-item leak census — q352 flipped to the EVAL OWNER's
    * view: q352 tells the curator which corpus docs to drop; this tells
    * the benchmark maintainer which eval items are compromised and how
    * badly (the item-retirement decision table): for every leaked
    * benchmark doc, the count of distinct corpus docs quoting it, the
    * leaked-span count, the union of leaked BENCHMARK positions (how
    * much of the item is out), its fraction, and the longest single
    * leak. Same runs as q352 — the bench-side interval union uses the
    * mapped start bp0 = c0 − diag.
    *
    * Exactness: positions/spans are integers; the union is
    * [[intervalSweep]] keyed by bench doc; the only double is the
    * 6-dp-snapped fraction.
    *
    * Scale shape: rides [[contamRuns]] (q352's measured plan — the
    * broadcast capped benchmark probe); the rollup windows partition by
    * BENCH doc over that item's leak list (bounded by the item's
    * length), and the final joins are benchmark-census-scale. */
  def q404BenchLeaks(spark: SparkSession, dir: String): DataFrame = {
    val (runs, _, bench, release) = contamRuns(spark, dir)
    val cover = intervalSweep(runs
      .select(col("bench_id").as("doc_id"),
        (col("c0") - col("diag")).as("s"),
        (col("c0") - col("diag") + col("rl") + lit(K - 2)).as("e"))
      .distinct())
    val per = runs.groupBy(col("bench_id"))
      .agg(countDistinct(col("doc_id")).as("n_leaking_docs"),
        count(lit(1)).as("n_leak_spans"),
        (max(col("rl")) + lit(K - 1)).as("longest_leak_tokens"))
    val lens = bench.select(col("doc_id").as("bench_id"),
      size(col("toks")).cast("long").as("n_tokens"))
    val out = graft.plans.Eager.ckpt(per
      .join(cover.withColumnRenamed("doc_id", "bench_id"), "bench_id")
      .join(lens, "bench_id")
      .select(col("bench_id"), col("n_tokens"), col("n_leaking_docs"),
        col("n_leak_spans"),
        col("covered_tokens").as("leaked_tokens"),
        (round(col("covered_tokens").cast("double") /
          col("n_tokens").cast("double"), 6) + lit(0.0))
          .as("leaked_frac"),
        col("longest_leak_tokens"))
      .orderBy("bench_id"))
    release()
    out
  }

  val q352Sql: String =
    s"""WITH toksrc AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |bench AS (SELECT * FROM toksrc WHERE doc_id % 10 = 7),
      |corp AS (
      |  SELECT c.doc_id,
      |    CASE WHEN b.toks IS NOT NULL THEN c.toks || b.toks[1:30]
      |         ELSE c.toks END AS toks
      |  FROM toksrc c LEFT JOIN bench b ON b.doc_id = c.doc_id + 4
      |  WHERE c.doc_id % 10 != 7),
      |corpk AS MATERIALIZED (SELECT * FROM corp WHERE len(toks) >= $K),
      |bpos AS (
      |  SELECT doc_id AS bench_id,
      |    unnest(generate_series(0, len(toks) - $K)) AS bp, toks
      |  FROM bench WHERE len(toks) >= $K),
      |bfp AS MATERIALIZED (
      |  SELECT bench_id, bp,
      |    md5(array_to_string(toks[bp + 1 : bp + $K], ' ')) AS fp
      |  FROM bpos),
      |bkeep AS (SELECT fp FROM bfp GROUP BY fp HAVING COUNT(*) <= $BF),
      |bprobe AS (SELECT * FROM bfp JOIN bkeep USING (fp)),
      |cpos AS (
      |  SELECT doc_id, unnest(generate_series(0, len(toks) - $K)) AS cp,
      |    toks
      |  FROM corpk),
      |cfp AS (
      |  SELECT doc_id, cp,
      |    md5(array_to_string(toks[cp + 1 : cp + $K], ' ')) AS fp
      |  FROM cpos),
      |matches AS (
      |  SELECT c.doc_id, b.bench_id, c.cp, b.bp
      |  FROM cfp c JOIN bprobe b USING (fp)),
      |isl AS (
      |  SELECT doc_id, bench_id, cp - bp AS diag, cp,
      |    cp - row_number() OVER (
      |      PARTITION BY doc_id, bench_id, cp - bp ORDER BY cp) AS iid
      |  FROM matches),
      |runs AS (
      |  SELECT doc_id, bench_id, diag, COUNT(*) AS rl, MIN(cp) AS c0
      |  FROM isl GROUP BY doc_id, bench_id, diag, iid),
      |lruns AS MATERIALIZED (SELECT * FROM runs WHERE rl + ${K - 1} >= $L),
      |spans AS (
      |  SELECT DISTINCT doc_id, c0 AS s, c0 + rl + ${K - 2} AS e
      |  FROM lruns),
      |$sweepCte,
      |lng AS (
      |  SELECT doc_id, CAST(MAX(rl) + ${K - 1} AS BIGINT)
      |    AS longest_contam_tokens
      |  FROM lruns GROUP BY doc_id),
      |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
      |  FROM corpk)
      |SELECT c.doc_id, l.n_tokens, c.n_regions,
      |  c.covered_tokens AS contam_tokens, g.longest_contam_tokens,
      |  round(CAST(c.covered_tokens AS DOUBLE)
      |    / CAST(l.n_tokens AS DOUBLE), 6) + 0.0 AS contam_frac
      |FROM cov c
      |JOIN lng g ON c.doc_id = g.doc_id
      |JOIN lens l ON c.doc_id = l.doc_id
      |ORDER BY c.doc_id""".stripMargin

  /** q404's twin: q352's chain through `lruns`, then the bench-side
    * interval union and per-item rollup. */
  val q404Sql: String = {
    val chain = q352Sql.substring(0, q352Sql.indexOf("spans AS ("))
    s"""${chain}spans AS (
      |  SELECT DISTINCT bench_id AS doc_id, c0 - diag AS s,
      |    c0 - diag + rl + ${K - 2} AS e
      |  FROM lruns),
      |$sweepCte,
      |per AS (
      |  SELECT bench_id,
      |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_leaking_docs,
      |    CAST(COUNT(*) AS BIGINT) AS n_leak_spans,
      |    CAST(MAX(rl) + ${K - 1} AS BIGINT) AS longest_leak_tokens
      |  FROM lruns GROUP BY bench_id),
      |blens AS (
      |  SELECT doc_id AS bench_id, CAST(len(toks) AS BIGINT) AS n_tokens
      |  FROM bench)
      |SELECT p.bench_id, l.n_tokens, p.n_leaking_docs, p.n_leak_spans,
      |  c.covered_tokens AS leaked_tokens,
      |  round(CAST(c.covered_tokens AS DOUBLE)
      |    / CAST(l.n_tokens AS DOUBLE), 6) + 0.0 AS leaked_frac,
      |  p.longest_leak_tokens
      |FROM per p
      |JOIN cov c ON p.bench_id = c.doc_id
      |JOIN blens l ON p.bench_id = l.bench_id
      |ORDER BY p.bench_id""".stripMargin
  }

  // --------------------------------------------------------------- q392
  /** Substring-dedup REWRITE certification — the end-to-end half q351's
    * mask only plans (VERDICT r14 #2, the q154/q275/q386 composition
    * pattern applied to the text family): materialize the cleaned
    * corpus by EXCISING every removable token interval (Lee et al.'s
    * actual rewrite: later doc loses the span, the earlier keeper
    * retains it), then re-run the IDENTICAL q350 detector on the output
    * and certify the result — one verdict row with the doc/token ledger,
    * token-mass conservation (tokens_in − tokens_removed = tokens_out,
    * measured from the actual rewritten corpus, not inferred), the
    * residual cross-doc pair count at the same ≥ L threshold, and the
    * clean verdict.
    *
    * Exactness: intervals, excision, and all ledger sums are integers;
    * the excision is an index-filter over each doc's token array against
    * its merged region list — no floating point anywhere in the query.
    *
    * Scale shape: two passes of the measured-linear [[sharedRuns]] chain
    * (SCALE_NOTES r14: 9.4× at 10×) + one hash join of the region lists
    * onto the corpus (region lists are bounded by doc_len/L per doc) +
    * array-level excision with no shuffle; every ledger reduction is a
    * map-combinable 1-row aggregate. ~2× q350's cost by construction. */
  def q392RewriteCert(spark: SparkSession, dir: String): DataFrame = {
    // the final cert row fans four branches off the shared frames
    // (corpus, regions, cleaned); eager checkpoints materialize each
    // ONCE, in order, before the branches race — a lazy persist under a
    // single action lets parallel branches duplicate the upstream
    // exchanges (measured: ~30% extra shuffle at the 20× fixture)
    val corpus = graft.plans.Eager.ckpt(
      DocQueries.corpusWithNearDups(spark, dir)
        .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
        .filter(size(col("toks")) > 0))
    val (runs, release) = sharedRunsFrom(spark, corpus)
    val spans = runs.filter(col("rl") + lit(K - 1) >= L)
      .select(col("b_id").as("doc_id"), col("b0").as("s"),
        (col("b0") + col("rl") + lit(K - 2)).as("e"))
      .distinct()
    val regions = graft.plans.Eager.ckpt(mergedRegions(spans))
    release()
    val regs = regions.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("rs"), col("re"))))
        .as("regs"))
    val cleaned = graft.plans.Eager.ckpt(
      corpus.join(regs, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("regs").isNull, col("toks"))
            .otherwise(expr(
              "filter(toks, (x, i) -> NOT exists(regs, r -> i >= r.rs AND i <= r.re))"))
            .as("toks")))
    val (runs2, release2) = sharedRunsFrom(spark, cleaned)
    val residual = runs2.filter(col("rl") + lit(K - 1) >= L)
      .select(col("a_id"), col("b_id")).distinct()
      .agg(count(lit(1)).as("residual_pairs"))
    val ins = corpus.agg(count(lit(1)).as("n_docs"),
      sum(size(col("toks")).cast("long")).as("tokens_in"))
    val rw = regions.groupBy(col("doc_id"))
      .agg(sum(col("re") - col("rs") + 1).as("cov"))
      .agg(count(lit(1)).as("docs_rewritten"),
        coalesce(sum(col("cov")), lit(0L)).as("tokens_removed"))
    val outs = cleaned
      .agg(sum(size(col("toks")).cast("long")).as("tokens_out"))
    val out = graft.plans.Eager.ckpt(
      ins.crossJoin(rw).crossJoin(outs).crossJoin(residual)
        .select(col("n_docs"), col("docs_rewritten"), col("tokens_in"),
          col("tokens_removed"), col("tokens_out"),
          (col("tokens_in") - col("tokens_removed") === col("tokens_out"))
            .as("mass_conserved"),
          col("residual_pairs"),
          (col("residual_pairs") === 0).as("residual_clean")))
    release2()
    out
  }

  val q392Sql: String =
    s"""WITH $sharedRunsCte,
      |spans AS (
      |  SELECT DISTINCT b_id AS doc_id, b0 AS s, b0 + rl + ${K - 2} AS e
      |  FROM runs WHERE rl + ${K - 1} >= $L),
      |$sweepCte,
      |regs AS (
      |  SELECT doc_id, list({'rs': rs, 're': re} ORDER BY rs, re) AS regs
      |  FROM regions GROUP BY doc_id),
      |cleaned AS MATERIALIZED (
      |  SELECT d.doc_id,
      |    CASE WHEN r.regs IS NULL THEN d.toks
      |         ELSE list_filter(d.toks, (x, i) ->
      |           len(list_filter(r.regs,
      |             rg -> rg.rs <= i - 1 AND i - 1 <= rg.re)) = 0)
      |    END AS toks
      |  FROM d LEFT JOIN regs r ON d.doc_id = r.doc_id),
      |${runsChainSql("cleaned", "2")},
      |residual AS (
      |  SELECT COUNT(*) AS residual_pairs FROM (
      |    SELECT DISTINCT a_id, b_id FROM runs2
      |    WHERE rl + ${K - 1} >= $L)),
      |ins AS (
      |  SELECT COUNT(*) AS n_docs, CAST(SUM(len(toks)) AS BIGINT)
      |    AS tokens_in
      |  FROM d),
      |rw AS (
      |  SELECT COUNT(*) AS docs_rewritten,
      |    CAST(COALESCE(SUM(covered_tokens), 0) AS BIGINT)
      |      AS tokens_removed
      |  FROM cov),
      |outs AS (
      |  SELECT CAST(SUM(len(toks)) AS BIGINT) AS tokens_out FROM cleaned)
      |SELECT i.n_docs, rw.docs_rewritten, i.tokens_in, rw.tokens_removed,
      |  o.tokens_out,
      |  (i.tokens_in - rw.tokens_removed = o.tokens_out) AS mass_conserved,
      |  r.residual_pairs, (r.residual_pairs = 0) AS residual_clean
      |FROM ins i, rw, outs o, residual r""".stripMargin

  // --------------------------------------------------------------- q393
  /** INTRA-document repeated spans — the self-repetition pathology
    * (degenerate looping text, the failure mode dominating low-quality
    * generated corpora) at exact span level, completing the family:
    * q350 finds spans shared ACROSS documents, q49 counts duplicate
    * lines/2-grams statistically; this recovers each document's maximal
    * periodic repeats exactly. Mechanism: pair every K-shingle position
    * with its NEAREST next equal shingle in the same document (one
    * `lead` per position — the minimal-period repeat is always
    * recovered; farther echoes of already-flagged content are
    * deliberately not re-reported), then stitch consecutive positions
    * sharing one gap with gaps-and-islands: a run of rl consecutive
    * matched positions at gap d is a repeated span of rl + K − 1 tokens
    * with period d. The fixture injects known loops (every
    * doc_id % 8 == 5 document with ≥ 10 tokens gains three copies of
    * its first 10 tokens) so flagged docs exist by construction in both
    * engines; organic repeats surface beside them. Per flagged doc
    * (any repeat ≥ L): repeat count, longest repeated span, its period,
    * and the loop-covered token fraction (interval union over
    * [start, span-end + period], both copies).
    *
    * Exactness: positions, gaps, run lengths are integers; the longest
    * pick is the lexicographic max-struct (rl, −period, −start); the
    * only double is the 6-dp-snapped fraction.
    *
    * Scale shape: NO join anywhere — one successor per position bounds
    * candidate volume at exactly |positions|, so no df cap is even
    * needed (contrast q350's F²/2 cross-doc fan-out). One exchange
    * total: docs hash-partition by doc_id once; the lead window
    * (doc_id, fp), the island window (doc_id, gap), the run aggregate,
    * the sweep, and the per-doc rollups are all satisfied by that
    * clustering (HashPartitioning(doc_id) satisfies every
    * ClusteredDistribution keyed by doc_id+) — local sorts only. */
  def q393SelfRepeats(spark: SparkSession, dir: String): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
    val d = base.select(col("doc_id"),
        when(col("doc_id") % 8 === 5 && size(col("toks")) >= 10,
          concat(col("toks"), slice(col("toks"), 1, 10),
            slice(col("toks"), 1, 10), slice(col("toks"), 1, 10)))
          .otherwise(col("toks")).as("toks"))
      .filter(size(col("toks")) >= K)
      .repartition(par, col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fps = d.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), size(col("toks")) - K),
        i => md5(array_join(slice(col("toks"), i + lit(1), lit(K)), " "))))
        .as(Seq("p", "fp")))
    val nxt = fps.withColumn("pn", lead(col("p"), 1).over(
      Window.partitionBy(col("doc_id"), col("fp")).orderBy(col("p"))))
      .filter(col("pn").isNotNull)
      .select(col("doc_id"), col("p"), (col("pn") - col("p")).as("prd"))
    val isl = nxt.withColumn("iid", col("p") - row_number().over(
      Window.partitionBy(col("doc_id"), col("prd")).orderBy(col("p"))))
    val runs = isl.groupBy(col("doc_id"), col("prd"), col("iid"))
      .agg(count(lit(1)).as("rl"), min(col("p")).as("p0"))
      .filter(col("rl") + lit(K - 1) >= L)
    val cover = intervalSweep(runs.select(col("doc_id"), col("p0").as("s"),
      (col("p0") + col("rl") + lit(K - 2) + col("prd")).as("e")).distinct())
    val best = runs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_loops"),
        max(struct(col("rl"), (-col("prd")).as("nd"), (-col("p0")).as("np")))
          .as("b"))
    val lens = d.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"))
    val out = graft.plans.Eager.ckpt(best.join(cover, "doc_id")
      .join(lens, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_loops"),
        (col("b.rl") + lit(K - 1)).as("longest_loop_tokens"),
        (-col("b.nd")).cast("long").as("loop_period"),
        (round(col("covered_tokens").cast("double") /
          col("n_tokens").cast("double"), 6) + lit(0.0)).as("loop_frac"))
      .orderBy("doc_id"))
    d.unpersist()
    out
  }

  val q393Sql: String =
    s"""WITH d0 AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |d AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 8 = 5 AND len(toks) >= 10
      |      THEN toks || toks[1:10] || toks[1:10] || toks[1:10]
      |      ELSE toks END AS toks
      |  FROM d0),
      |fps AS MATERIALIZED (
      |  SELECT doc_id, p,
      |    md5(array_to_string(toks[p + 1 : p + $K], ' ')) AS fp
      |  FROM (SELECT doc_id, toks,
      |          unnest(generate_series(0, len(toks) - $K)) AS p
      |        FROM d WHERE len(toks) >= $K)),
      |nxt AS (
      |  SELECT doc_id, p,
      |    lead(p) OVER (PARTITION BY doc_id, fp ORDER BY p) AS pn
      |  FROM fps),
      |gp AS (
      |  SELECT doc_id, p, pn - p AS prd FROM nxt WHERE pn IS NOT NULL),
      |isl AS (
      |  SELECT doc_id, prd, p,
      |    p - row_number() OVER (PARTITION BY doc_id, prd ORDER BY p)
      |      AS iid
      |  FROM gp),
      |runs AS (
      |  SELECT doc_id, prd, COUNT(*) AS rl, MIN(p) AS p0
      |  FROM isl GROUP BY doc_id, prd, iid
      |  HAVING COUNT(*) + ${K - 1} >= $L),
      |spans AS (
      |  SELECT DISTINCT doc_id, p0 AS s, p0 + rl + ${K - 2} + prd AS e
      |  FROM runs),
      |$sweepCte,
      |best AS (
      |  SELECT doc_id, COUNT(*) AS n_loops,
      |    MAX({'rl': rl, 'nd': -prd, 'np': -p0}) AS b
      |  FROM runs GROUP BY doc_id),
      |lens AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
      |  FROM d WHERE len(toks) >= $K)
      |SELECT b.doc_id, l.n_tokens, b.n_loops,
      |  CAST(b.b.rl + ${K - 1} AS BIGINT) AS longest_loop_tokens,
      |  CAST(-(b.b.nd) AS BIGINT) AS loop_period,
      |  round(CAST(c.covered_tokens AS DOUBLE)
      |    / CAST(l.n_tokens AS DOUBLE), 6) + 0.0 AS loop_frac
      |FROM best b
      |JOIN cov c ON b.doc_id = c.doc_id
      |JOIN lens l ON b.doc_id = l.doc_id
      |ORDER BY b.doc_id""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q350_substring_dedup", q350SubstringDedup _, q350Sql),
    Query("q351_removal_mask", q351RemovalMask _, q351Sql),
    Query("q352_contam_spans", q352ContamSpans _, q352Sql),
    Query("q392_rewrite_cert", q392RewriteCert _, q392Sql),
    Query("q393_self_repeats", q393SelfRepeats _, q393Sql),
    Query("q404_bench_leaks", q404BenchLeaks _, q404Sql))
}
