package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Query
import graft.functions.TextFunctions._
import graft.operators.DupClusters

/** Corpus-curation operators a training-data pipeline runs between dedup
  * and packing: excerpt/containment detection (a doc embedded inside a
  * larger one — quotes, boilerplate, page-in-page — which symmetric
  * Jaccard misses), per-language quality quotas (the data-mixture step
  * that caps each language at a target document budget), and the
  * deterministic global shuffle that fixes a training order without a
  * global sort. Extension scope: the reference pipeline stops at
  * warehouse KPIs; these are the corpus-side operators its data model
  * feeds at scale.
  */
object CurationQueries {

  // ---------------------------------------------------------------- q55
  /** Shingle-containment excerpt detection. Symmetric Jaccard
    * |A∩B| / |A∪B| scores a 12-token excerpt of a 30-token doc at ~0.4 —
    * invisible to a near-dup threshold — while containment
    * |A∩B| / min(|A|,|B|) scores it 1.0. Candidates come from PREFIX
    * FILTERING (the PPJoin-family set-similarity-join bound): under a
    * global rarest-first shingle order, a pair with containment ≥ t MUST
    * share a shingle inside the smaller set's (⌊(1−t)·|S|⌋+1)-prefix —
    * so only each doc's few rarest shingles are indexed as probes against
    * the full inverted index, recall is COMPLETE (provable, asserted in
    * the spec), and exact set intersection verifies each candidate. On
    * the sf0.1 fixture this generates ~7× fewer candidates than a
    * df-capped full index, with no dropped-shingle recall trade.
    *
    * Derived corpus: documents ∪ a 12-token prefix excerpt of every 10th
    * doc (ids offset +200000, the clone-id convention of q19/q22/q45).
    * Scale posture: the shingle table is computed once, spread across
    * cores, and persisted for its uses (df counts + prefix ranking +
    * verify fetch); candidate generation and verification are both
    * equi-joins — never all-pairs.
    */
  /** q55's derived corpus (full docs ∪ 12-token prefix excerpts of every
    * 10th doc) with distinct 3-shingles, spread across cores and
    * PERSISTED — the caller must unpersist. */
  private def q55ShingleTable(spark: SparkSession,
                              dir: String): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    val base = Kpis.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .repartition(par, col("doc_id")) // single-file scan = one partition
      .withColumn("toks", tokens(col("text")))
    val full = base.select(col("doc_id").as("id"), col("toks"))
    val excerpts = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 200000).as("id"),
        slice(col("toks"), 1, 12).as("toks"))
    // shingles as md5-derived 60-bit longs (the q22 signature-hash
    // convention, replayed by the oracle): 8-byte set elements instead of
    // ~30-char strings — the verify stage's array shuffle and the
    // intersections shrink ~4×, at the usual negligible-collision odds
    full.unionAll(excerpts)
      .select(col("id"), array_distinct(
        transform(shingles(col("toks"), 3), s => md5Hash60(s))).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Candidate containment verification: fetch both shingle sets per
    * candidate pair, count the exact intersection, keep containment
    * ≥ `threshold`. */
  private def q55Verify(shs: DataFrame, cand: DataFrame,
                        threshold: Double): DataFrame = {
    val sa = shs.select(col("id").as("a"), col("sh").as("sha"))
    val sb = shs.select(col("id").as("b"), col("sh").as("shb"))
    cand.join(sa, "a").join(sb, "b")
      .withColumn("n_shared",
        size(array_intersect(col("sha"), col("shb"))))
      .withColumn("containment",
        col("n_shared").cast("double") /
          least(size(col("sha")), size(col("shb"))))
      .filter(col("containment") >= threshold)
      .select(col("a").as("a_id"), col("b").as("b_id"),
        col("n_shared"), col("containment"))
      .orderBy("a_id", "b_id")
  }

  def q55ContainmentDup(spark: SparkSession, dir: String): DataFrame = {
    val shs = q55ShingleTable(spark, dir)
    shs.count() // materialize once for both downstream uses
    try {
      val cand = DupClusters.prefixCandidatePairs(shs, t = 0.9)
      q55Verify(shs, cand, threshold = 0.9).localCheckpoint(true)
    } finally shs.unpersist()
  }

  val q55Sql: String =
    """WITH base AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |corpus AS (
      |  SELECT doc_id AS id, toks FROM base
      |  UNION ALL
      |  SELECT doc_id + 200000, toks[1:12] FROM base WHERE doc_id % 10 = 0),
      |shs AS (
      |  SELECT id, list_distinct(list_transform(
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks) - 1),
      |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |    END,
      |    x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS sh
      |  FROM corpus),
      |inv AS (
      |  SELECT DISTINCT * FROM (SELECT id, unnest(sh) AS s FROM shs)),
      |cand AS (
      |  SELECT DISTINCT i1.id AS a, i2.id AS b
      |  FROM inv i1 JOIN inv i2 USING (s)
      |  WHERE i1.id < i2.id)
      |SELECT a AS a_id, b AS b_id,
      |  CAST(len(list_intersect(sa.sh, sb.sh)) AS INTEGER) AS n_shared,
      |  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      |    / LEAST(len(sa.sh), len(sb.sh)) AS containment
      |FROM cand
      |JOIN shs sa ON cand.a = sa.id
      |JOIN shs sb ON cand.b = sb.id
      |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      |      / LEAST(len(sa.sh), len(sb.sh)) >= 0.9
      |ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------------------------------- q85
  /** C4-style span-level exact dedup: chunk every document into
    * non-overlapping 16-token spans (the paragraph unit of a corpus with
    * no layout structure — C4 proper keys on three-sentence spans, same
    * plan), fingerprint each span, and keep only the FIRST occurrence
    * (smallest (doc_id, chunk_idx)) of every repeated span. Reported per
    * document: span counts, how many of its spans lost to an earlier
    * occurrence, and the duplicate fraction — the per-doc removal mask a
    * curation pass applies before packing. Catches the cross-document
    * boilerplate/excerpt repetition that whole-doc fingerprints (q19/q25)
    * miss and near-dup thresholds under-weigh.
    *
    * Scale shape: chunking is ARRAY-level on the tokenized row (no
    * shuffle); the winner election is one hash-shuffle on the span
    * fingerprint with full map-side partial aggregation (min(struct) —
    * the q61 compaction shape, NOT a window over the span stream); the
    * mark-back is an equi-join on the same fingerprint key; the per-doc
    * rollup is one more map-side-combinable agg. Fingerprints are md5
    * hex (16 bytes) so the two span-keyed exchanges never carry span
    * TEXT — the q55 hashed-shingle lesson.
    *
    * Winner parity: Spark's min(struct(doc_id, ci)) ≡ the oracle's
    * row_number ORDER BY doc_id, ci — (doc_id, ci) is unique by
    * construction, so the tie question never arises (unlike q61). */
  def q85ParagraphDedup(spark: SparkSession, dir: String): DataFrame = {
    val P = 16
    val d = Kpis.table(spark, dir, "documents")
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) > 0)
    val spans = d.select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), ceil(size(col("toks")) / lit(P.toDouble))
            .cast("int") - 1),
          i => array_join(slice(col("toks"), i * P + 1, lit(P)), " ")))
          .as(Seq("ci", "span")))
      .select(col("doc_id"), col("ci"), md5(col("span")).as("fp"))
    val winners = spans.groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("ci"))).as("w"))
    spans.join(winners, "fp")
      .select(col("doc_id"), col("ci"),
        (!(col("doc_id") === col("w.doc_id") && col("ci") === col("w.ci")))
          .cast("long").as("is_dup"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("is_dup")).as("n_dup"),
        round(sum(col("is_dup")).cast("double") / count(lit(1)), 6)
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  val q85Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |pos AS (
      |  SELECT doc_id, toks,
      |    unnest(generate_series(0,
      |      CAST(ceil(len(toks) / 16.0) AS INTEGER) - 1)) AS ci
      |  FROM d),
      |spans AS (
      |  SELECT doc_id, ci,
      |    md5(array_to_string(toks[ci * 16 + 1 : ci * 16 + 16], ' ')) AS fp
      |  FROM pos),
      |marked AS (
      |  SELECT doc_id, ci,
      |    CASE WHEN row_number() OVER (
      |      PARTITION BY fp ORDER BY doc_id, ci) = 1
      |    THEN 0 ELSE 1 END AS is_dup
      |  FROM spans)
      |SELECT doc_id, COUNT(*) AS n_spans,
      |  CAST(SUM(is_dup) AS BIGINT) AS n_dup,
      |  round(CAST(SUM(is_dup) AS DOUBLE) / COUNT(*), 6) AS dup_frac
      |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q56
  /** Per-language quality quota: rank documents inside each language by a
    * replayable quality score (lexical diversity × log length, the
    * distinct-token-ratio signal of q23/q49 in ranking form) and keep each
    * language's top `quota`. The rank filter is a LITERAL bound
    * (maxQuota), so Spark 4 plans it as WindowGroupLimit — each map task
    * keeps only its local top-maxQuota per language BEFORE the shuffle;
    * the per-language CASE quota then trims inside the surviving rows.
    * Score is rounded to 6dp before ranking (libm ln differs cross-engine
    * in the last ulps) with doc_id as the total-order tiebreak.
    */
  def q56QuotaCuration(spark: SparkSession, dir: String): DataFrame = {
    val maxQuota = 40 // literal bound → WindowGroupLimit map-side prune
    val quota = when(col("lang") === "en", lit(40)).otherwise(lit(25))
    val scored = Kpis.table(spark, dir, "documents")
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_toks", size(col("toks")))
      .withColumn("score",
        when(col("n_toks") === 0, lit(0.0)).otherwise(round(
          log(lit(1.0) + col("n_toks")) *
            (size(array_distinct(col("toks"))).cast("double") /
              col("n_toks")), 6)))
      .drop("toks")
    val w = Window.partitionBy("lang")
      .orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= maxQuota)
      .filter(col("rk") <= quota)
      .select(col("doc_id"), col("lang"), col("n_toks"), col("score"),
        col("rk"))
      .orderBy("lang", "rk")
  }

  val q56Sql: String =
    """WITH scored AS (
      |  SELECT doc_id, lang,
      |    CAST(len(toks) AS INTEGER) AS n_toks,
      |    CASE WHEN len(toks) = 0 THEN 0.0
      |         ELSE round(ln(1.0 + len(toks)) *
      |                (len(list_distinct(toks))::DOUBLE / len(toks)), 6)
      |    END AS score
      |  FROM (SELECT doc_id, lang,
      |          regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents)),
      |ranked AS (
      |  SELECT *, row_number() OVER
      |    (PARTITION BY lang ORDER BY score DESC, doc_id) AS rk
      |  FROM scored)
      |SELECT doc_id, lang, n_toks, score, CAST(rk AS INTEGER) AS rk
      |FROM ranked
      |WHERE rk <= CASE WHEN lang = 'en' THEN 40 ELSE 25 END
      |ORDER BY lang, rk""".stripMargin

  // ---------------------------------------------------------------- q57
  /** Deterministic global shuffle + shard assignment — the training-order
    * step. A salted 60-bit md5 key gives every doc a reproducible
    * pseudo-random position; shard = key mod nShards balances shards
    * uniformly, and the within-shard order is the key itself (doc_id
    * tiebreak on collisions). No global sort and no single-partition
    * window: position is computed per shard, so parallelism scales with
    * the shard count (at 100 TB you raise nShards so each shard's window
    * sort fits one task, then write with
    * repartition(shard) + sortWithinPartitions — same plan shape).
    */
  def q57GlobalShuffle(spark: SparkSession, dir: String): DataFrame = {
    val nShards = 16
    val key = md5Hash60(
      concat(lit("graft-shuffle-r7:"), col("doc_id").cast("string")))
    val w = Window.partitionBy("shard")
      .orderBy(col("sort_key"), col("doc_id"))
    Kpis.table(spark, dir, "documents")
      .select(col("doc_id"), key.as("sort_key"))
      .withColumn("shard",
        pmod(col("sort_key"), lit(nShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("sort_key"), col("pos"))
      .orderBy("shard", "pos")
  }

  val q57Sql: String =
    """WITH keyed AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5('graft-shuffle-r7:' || doc_id::VARCHAR),
      |                    1, 15))::BIGINT AS sort_key
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(sort_key % 16 AS INTEGER) AS shard,
      |  sort_key,
      |  CAST(row_number() OVER
      |    (PARTITION BY sort_key % 16 ORDER BY sort_key, doc_id)
      |    AS INTEGER) AS pos
      |FROM keyed
      |ORDER BY shard, pos""".stripMargin

  // --------------------------------------------------------------- q397
  /** Shard-balance audit of the deterministic shuffle (q57) — the
    * interleaving certificate a training run needs before trusting the
    * shard order: each of the 16 md5-keyed shards should be an unbiased
    * sample of the global source mixture (a shard over-weighted toward
    * one source makes early training see a skewed distribution). Per
    * shard: doc count, token mass, the size deviation from the uniform
    * n/16 expectation, the L∞ deviation of its source shares from the
    * global shares (computed over the FULL shard × source grid so an
    * absent cell counts its whole global share as deviation), and the
    * ≤ 2%-absolute balance verdict.
    *
    * Exactness: all counts are exact integers on the full grid (shards
    * census × sources census, coalesced 0); each deviation is a
    * fixed-order IEEE expression spelled identically in the twin and
    * snapped at 6 dp; the verdict compares the snapped value.
    *
    * Scale shape: ONE map-combinable (shard, source) census off the
    * fact (the md5 key is per-row codegen'd work); everything after
    * runs on the ≤ 16 × |sources| grid — the grid cross join is two
    * censuses, the adjudicated tiny-frame pattern. */
  def q397ShardBalance(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{md5Hash60, tokenCount}
    val nShards = 16L
    val keyed = Kpis.table(spark, dir, "documents")
      .select(col("source"),
        tokenCount(col("text")).cast("long").as("n_tok"),
        pmod(md5Hash60(concat(lit("graft-shuffle-r7:"),
          col("doc_id").cast("string"))), lit(nShards)).cast("int")
          .as("shard"))
    val cells = keyed.groupBy(col("shard"), col("source"))
      .agg(count(lit(1)).as("c"), sum(col("n_tok")).as("t"))
      .localCheckpoint(true)
    val shards = spark.range(nShards).select(col("id").cast("int")
      .as("shard"))
    val sources = cells.select(col("source")).distinct()
    val gsrc = cells.groupBy(col("source")).agg(sum(col("c")).as("gs"))
    val tot = cells.agg(sum(col("c")).as("n"))
    val grid = shards.crossJoin(sources)
      .join(cells, Seq("shard", "source"), "left")
      .select(col("shard"), col("source"),
        coalesce(col("c"), lit(0L)).as("c"),
        coalesce(col("t"), lit(0L)).as("t"))
      .join(gsrc, "source").crossJoin(tot)
      .withColumn("shn", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))))
    val per = grid.groupBy(col("shard"))
      .agg(sum(col("c")).as("n_docs"), sum(col("t")).as("tokens"),
        max(abs(col("c").cast("double") / col("shn").cast("double") -
          col("gs").cast("double") / col("n").cast("double")))
          .as("dev_raw"),
        max(col("n").cast("double")).as("nd"))
    per.select(col("shard"), col("n_docs"), col("tokens"),
        (round(col("n_docs").cast("double") /
          (col("nd") / lit(nShards.toDouble)) - lit(1.0), 6) + lit(0.0))
          .as("size_dev_frac"),
        (round(col("dev_raw"), 6) + lit(0.0)).as("max_source_dev"))
      .withColumn("balanced", col("max_source_dev") <= 0.02)
      .orderBy("shard")
  }

  val q397Sql: String =
    s"""WITH keyed AS (
      |  SELECT source,
      |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\\s+'))
      |         END AS BIGINT) AS n_tok,
      |    CAST(('0x' || substr(md5('graft-shuffle-r7:' || doc_id::VARCHAR),
      |                         1, 15))::BIGINT % 16 AS INTEGER) AS shard
      |  FROM documents),
      |cells AS (
      |  SELECT shard, source, COUNT(*) AS c,
      |    CAST(SUM(n_tok) AS BIGINT) AS t
      |  FROM keyed GROUP BY 1, 2),
      |shards AS (SELECT CAST(unnest(range(16)) AS INTEGER) AS shard),
      |sources AS (SELECT DISTINCT source FROM cells),
      |gsrc AS (SELECT source, CAST(SUM(c) AS BIGINT) AS gs
      |  FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
      |grid AS (
      |  SELECT sh.shard, so.source,
      |    COALESCE(ce.c, 0) AS c, COALESCE(ce.t, 0) AS t, g.gs, tot.n
      |  FROM shards sh
      |  CROSS JOIN sources so
      |  LEFT JOIN cells ce ON sh.shard = ce.shard AND so.source = ce.source
      |  JOIN gsrc g ON so.source = g.source
      |  CROSS JOIN tot),
      |grid2 AS (
      |  SELECT *, SUM(c) OVER (PARTITION BY shard) AS shn FROM grid),
      |per AS (
      |  SELECT shard, CAST(SUM(c) AS BIGINT) AS n_docs,
      |    CAST(SUM(t) AS BIGINT) AS tokens,
      |    MAX(ABS(CAST(c AS DOUBLE) / CAST(shn AS DOUBLE)
      |      - CAST(gs AS DOUBLE) / CAST(n AS DOUBLE))) AS dev_raw,
      |    MAX(CAST(n AS DOUBLE)) AS nd
      |  FROM grid2 GROUP BY shard)
      |SELECT shard, n_docs, tokens,
      |  round(CAST(n_docs AS DOUBLE) / (nd / 16.0) - 1.0, 6) + 0.0
      |    AS size_dev_frac,
      |  round(dev_raw, 6) + 0.0 AS max_source_dev,
      |  (round(dev_raw, 6) + 0.0 <= 0.02) AS balanced
      |FROM per ORDER BY shard""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q55_containment_dup", q55ContainmentDup _, q55Sql),
    Query("q56_quota_curation", q56QuotaCuration _, q56Sql),
    Query("q57_global_shuffle", q57GlobalShuffle _, q57Sql),
    Query("q85_paragraph_dedup", q85ParagraphDedup _, q85Sql),
    Query("q397_shard_balance", q397ShardBalance _, q397Sql))
}
