package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.ExactMath.r6
import graft.functions.TextFunctions._

/** Language-model-based quality scoring — the CCNet-style "perplexity
  * filter" step of a training-data pipeline: score every document by the
  * mean negative log-likelihood of its tokens under a unigram model
  * trained on the corpus itself. Low-NLL documents look like the corpus
  * (keep); high-NLL documents are noise/outliers (drop or down-weight).
  * Extension scope: the reference stops at KPI queries; this is the
  * standard corpus-quality signal its documents table feeds.
  */
object LmQueries {

  // ---------------------------------------------------------------- q59
  /** Per-document mean unigram NLL. Model = token → ln(count/total) over
    * the case-folded whitespace corpus (self-trained, so no OOV mass is
    * needed; a held-out model would add one smoothing term to the same
    * plan). Empty documents have no tokens and are excluded — mirrored by
    * the oracle's length guard (the q27 empty-doc convention).
    *
    * Cross-engine determinism: count/total is the same exact double in
    * both engines; ln differs by ≤1 ulp cross-engine, collapsed by
    * round(·,9) per token; the per-doc mean's summation-order jitter is
    * collapsed by round(·,6) — the accepted boundary-odds convention of
    * q33's centroids, certified per-run by the oracle gate.
    *
    * Scale shape: vocab build is one hash agg on token (map-side partials
    * over the exploded scan); total is a 1-row broadcast; scoring is an
    * equi-join of the exploded corpus against the vocab (AQE broadcasts
    * it while it fits, shuffle-join beyond) followed by one hash agg on
    * doc_id. No windows, no driver loops — every stage scales with the
    * token count.
    */
  def q59UnigramNll(spark: SparkSession, dir: String): DataFrame = {
    val d = Kpis.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) > 0)
    val tok = d.select(col("doc_id"), col("lang"),
      size(col("toks")).as("n_tokens"), explode(col("toks")).as("token"))
    val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    val lp = vocab.crossJoin(broadcast(total))
      .select(col("token"),
        round(log(col("cnt").cast("double") / col("total")), 9).as("lp"))
    tok.join(lp, "token")
      .groupBy(col("doc_id"), col("lang"), col("n_tokens"))
      // + 0.0 normalizes IEEE -0.0 (all-zero lp corner) — see README
      // "negative zero" determinism convention
      .agg((round(-avg(col("lp")), 6) + lit(0.0)).as("avg_nll"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("avg_nll"))
      .orderBy("doc_id")
  }

  val q59Sql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |tok AS (
      |  SELECT doc_id, lang, len(toks) AS n_tokens, unnest(toks) AS token
      |  FROM d),
      |vocab AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
      |lp AS (
      |  SELECT token,
      |    round(ln(cnt::DOUBLE / (SELECT SUM(cnt) FROM vocab)), 9) AS lp
      |  FROM vocab)
      |SELECT doc_id, lang, CAST(n_tokens AS INTEGER) AS n_tokens,
      |  round(-avg(lp), 6) + 0.0 AS avg_nll
      |FROM tok JOIN lp USING (token)
      |GROUP BY doc_id, lang, n_tokens
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q83
  /** Per-document mean bigram NLL — the sharper perplexity signal beside
    * q59's unigram score: P(w2|w1) = count(w1 w2) / count(w1 ·) from the
    * self-trained conditional MLE (no OOV/zero mass by construction).
    * Documents need ≥ 2 tokens to have a bigram; shorter ones are
    * excluded, mirrored by the oracle's length guard.
    *
    * Scale shape: bigrams come from an ARRAY-level zip_with on the
    * already-tokenized row (no positional self-join shuffle of the
    * exploded corpus); both count tables are vocab²-bounded hash aggs;
    * scoring is one equi-join + one hash agg, exactly q59's plan family.
    * Rounding grid: per-bigram ln at 9 dp, per-doc mean at 6 dp. */
  def q83BigramNll(spark: SparkSession, dir: String): DataFrame = {
    val d = Kpis.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) >= 2)
    val bg = d.select(col("doc_id"), col("lang"),
      (size(col("toks")) - 1).as("n_bigrams"),
      explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("bg"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val cb = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val cw = cb.groupBy(col("w1")).agg(sum(col("c")).as("ctx"))
    val lp = cb.join(cw, "w1")
      .select(col("w1"), col("w2"),
        round(log(col("c").cast("double") / col("ctx").cast("double")), 9)
          .as("lp"))
    bg.join(lp, Seq("w1", "w2"))
      .groupBy(col("doc_id"), col("lang"), col("n_bigrams"))
      // + 0.0: negative-zero normalization, same corner as q59
      .agg((round(-avg(col("lp")), 6) + lit(0.0)).as("avg_nll"))
      .orderBy("doc_id")
  }

  val q83Sql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |d2 AS (SELECT * FROM d WHERE len(toks) >= 2),
      |pos AS (
      |  SELECT doc_id, lang, toks,
      |    CAST(len(toks) - 1 AS INTEGER) AS n_bigrams,
      |    unnest(generate_series(1, len(toks) - 1)) AS i
      |  FROM d2),
      |bg AS (
      |  SELECT doc_id, lang, n_bigrams, toks[i] AS w1, toks[i + 1] AS w2
      |  FROM pos),
      |cb AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2),
      |cw AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS ctx FROM cb GROUP BY 1),
      |lp AS (
      |  SELECT w1, w2,
      |    round(ln(CAST(c AS DOUBLE) / CAST(ctx AS DOUBLE)), 9) AS lp
      |  FROM cb JOIN cw USING (w1))
      |SELECT doc_id, lang, n_bigrams, round(-avg(lp), 6) + 0.0 AS avg_nll
      |FROM bg JOIN lp USING (w1, w2)
      |GROUP BY doc_id, lang, n_bigrams
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q236
  /** Context-length overflow census: for candidate context sizes
    * L ∈ {512, 2048, 8192} tokens, how many documents exceed L and what
    * share of corpus tokens a truncate-at-L policy discards
    * (Σ(tokens−L)⁺ / Σtokens). The sizing study run BEFORE q47's
    * sequence packing: it picks the context length (and decides between
    * truncation and document splitting) from the corpus's own length
    * distribution.
    *
    * Exactness: per-doc token counts are exact integers; overflow sums
    * are exact; shares are single double divisions, 6 dp, −0.0-guarded.
    *
    * Scale shape: one tokenize pass collapses to a per-doc length
    * table; the three L thresholds evaluate as conditional sums in ONE
    * aggregate (adding a candidate L is one more column, not another
    * pass); the L-census output unpivots from that single row. */
  def q236ContextOverflow(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    val ls = Seq(512, 2048, 8192)
    val perDoc = spark.read.parquet(s"$dir/documents.parquet")
      .select(tokenCount(col("text")).cast("long").as("t"))
    val aggs =
      Seq(count(lit(1)).as("n_docs"), sum(col("t")).as("tot")) ++
        ls.flatMap(l => Seq(
          sum(when(col("t") > l, 1L).otherwise(0L)).as(s"over$l"),
          sum(when(col("t") > l, col("t") - l).otherwise(0L))
            .as(s"lost$l")))
    val wide = perDoc.agg(aggs.head, aggs.tail: _*)
    ls.map { l =>
      wide.select(lit(l).as("context_len"), col("n_docs"),
        col(s"over$l").as("n_docs_over"),
        (round(col(s"over$l").cast("double") /
          col("n_docs").cast("double"), 6) + lit(0.0)).as("doc_over_share"),
        col(s"lost$l").as("tokens_lost"),
        (round(col(s"lost$l").cast("double") /
          col("tot").cast("double"), 6) + lit(0.0)).as("token_loss_share"))
    }.reduce(_ unionAll _).orderBy("context_len")
  }

  val q236Sql: String =
    """WITH d AS (
      |  SELECT CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END
      |    AS BIGINT) AS t
      |  FROM documents),
      |s AS (
      |  SELECT COUNT(*) AS n_docs, CAST(SUM(t) AS BIGINT) AS tot,
      |    CAST(SUM(CASE WHEN t > 512 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS over512,
      |    CAST(SUM(CASE WHEN t > 512 THEN t - 512 ELSE 0 END) AS BIGINT)
      |      AS lost512,
      |    CAST(SUM(CASE WHEN t > 2048 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS over2048,
      |    CAST(SUM(CASE WHEN t > 2048 THEN t - 2048 ELSE 0 END) AS BIGINT)
      |      AS lost2048,
      |    CAST(SUM(CASE WHEN t > 8192 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS over8192,
      |    CAST(SUM(CASE WHEN t > 8192 THEN t - 8192 ELSE 0 END) AS BIGINT)
      |      AS lost8192
      |  FROM d),
      |u AS (
      |  SELECT 512 AS context_len, n_docs, over512 AS n_docs_over,
      |    lost512 AS tokens_lost, tot FROM s
      |  UNION ALL SELECT 2048, n_docs, over2048, lost2048, tot FROM s
      |  UNION ALL SELECT 8192, n_docs, over8192, lost8192, tot FROM s)
      |SELECT context_len, n_docs, n_docs_over,
      |  round(CAST(n_docs_over AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
      |    + 0.0 AS doc_over_share,
      |  tokens_lost,
      |  round(CAST(tokens_lost AS DOUBLE) / CAST(tot AS DOUBLE), 6) + 0.0
      |    AS token_loss_share
      |FROM u ORDER BY context_len""".stripMargin

  // --------------------------------------------------------------- q308
  /** BPE first-merge table: the top-20 adjacent symbol pairs over the
    * end-of-word-marked character alphabet, weighted by word frequency —
    * EXACTLY the statistic byte-pair-encoding tokenizer training
    * computes to pick its first merge (Sennrich et al.'s algorithm,
    * iteration 1). The corpus collapses to the word census first, so
    * pair counting is O(|vocab|·word-length), not O(corpus) — the same
    * trick real BPE trainers use — and the `</w>` marker keeps
    * word-final pairs distinct from word-internal ones (the "er" in
    * "her·" vs "herd"). Subsequent merge iterations re-run this count
    * over re-segmented words; the first table is the certifiable
    * distributed kernel.
    *
    * Exactness: all-integer counts; rank ties break lexicographically.
    *
    * Scale shape: one token shuffle to the word census, a per-word
    * array expansion (≤ word-length pairs), one map-combinable pair
    * agg; the rank window runs over the alphabet² pair census
    * (WindowGuardSpec pins it). */
  def q308BpeFirstMerges(spark: SparkSession, dir: String): DataFrame = {
    val words = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(tokens(lower(col("text")))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    val pairs = words.select(col("f"), explode(expr(
      """concat(
        |  case when length(w) < 2
        |       then cast(array() as array<struct<a:string,b:string>>)
        |       else transform(sequence(1, length(w) - 1),
        |         i -> struct(substring(w, i, 1) as a,
        |                     substring(w, i + 1, 1) as b)) end,
        |  array(struct(substring(w, length(w), 1) as a,
        |               '</w>' as b)))""".stripMargin)).as("pr"))
      .select(col("pr.a").as("left_sym"), col("pr.b").as("right_sym"),
        col("f"))
    import org.apache.spark.sql.expressions.Window
    pairs.groupBy(col("left_sym"), col("right_sym"))
      .agg(sum(col("f")).as("pair_count"))
      .withColumn("merge_rank", row_number().over(Window.orderBy(
        col("pair_count").desc, col("left_sym"), col("right_sym"))))
      .filter(col("merge_rank") <= 20)
      .select(col("merge_rank").cast("long").as("merge_rank"),
        col("left_sym"), col("right_sym"), col("pair_count"))
      .orderBy("merge_rank")
  }

  val q308Sql: String =
    """WITH tok AS (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
      |    AS w
      |  FROM documents WHERE length(trim(text)) > 0),
      |words AS (SELECT w, COUNT(*) AS f FROM tok GROUP BY 1),
      |prs AS (
      |  SELECT substr(w, CAST(i AS INTEGER), 1) AS a,
      |    substr(w, CAST(i AS INTEGER) + 1, 1) AS b, f
      |  FROM words, UNNEST(range(1, length(w))) AS t(i)
      |  UNION ALL
      |  SELECT substr(w, length(w), 1), '</w>', f FROM words),
      |pc AS (
      |  SELECT a, b, CAST(SUM(f) AS BIGINT) AS pair_count
      |  FROM prs GROUP BY 1, 2),
      |rk AS (
      |  SELECT *, ROW_NUMBER() OVER (
      |    ORDER BY pair_count DESC, a, b) AS merge_rank
      |  FROM pc)
      |SELECT CAST(merge_rank AS BIGINT) AS merge_rank, a AS left_sym,
      |  b AS right_sym, pair_count
      |FROM rk WHERE merge_rank <= 20 ORDER BY merge_rank""".stripMargin

  // --------------------------------------------------------------- q327
  /** BPE merge LADDER — three full training iterations, not just q308's
    * first pair table: each round counts adjacent-symbol pairs over the
    * frequency-weighted word census, picks the argmax pair (ties
    * lexicographic), RE-SEGMENTS every word by applying the merge, and
    * repeats on the new symbol stream — the actual Sennrich et al.
    * training loop whose iteration-1 statistic q308 certifies. Merge
    * application is a greedy LEFT-TO-RIGHT fold over the symbol
    * sequence (a freshly merged token never re-merges as the left
    * element unless it literally equals the pair's left symbol — the
    * standard non-overlapping semantics), expressed as the IDENTICAL
    * string-accumulator lambda in both engines (Spark `aggregate`,
    * DuckDB `list_reduce`): append `b` without a space when the
    * accumulator's last token is exactly `a` and the next symbol is
    * `b`.
    *
    * Exactness: all-integer counts; segmentations are deterministic
    * strings; ties break lexicographically at every argmax.
    *
    * Scale shape: everything after the one token shuffle runs on the
    * WORD CENSUS (vocab-bounded, not corpus-bounded — the real-BPE
    * trick); each iteration is one pair agg + a TakeOrdered(1) + one
    * broadcast of the single merge row; three iterations, each
    * checkpointed so no lineage re-execution. */
  def q327BpeMergeLadder(spark: SparkSession, dir: String): DataFrame = {
    val words = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(tokens(lower(col("text")))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    val seg0 = words.select(expr(
      """concat(concat_ws(' ',
        |  transform(sequence(1, length(w)), i -> substring(w, i, 1))),
        |  ' </w>')""".stripMargin).as("seg"), col("f"))
      .localCheckpoint()
    def pairCounts(seg: org.apache.spark.sql.DataFrame) =
      seg.select(col("f"), explode(expr(
        """transform(sequence(1, size(split(seg, ' ')) - 1),
          | i -> struct(element_at(split(seg, ' '), i) as a,
          |             element_at(split(seg, ' '), i + 1) as b))"""
          .stripMargin)).as("pr"))
        .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
        .agg(sum(col("f")).as("pair_count"))
    def top1(pc: org.apache.spark.sql.DataFrame) =
      pc.orderBy(col("pair_count").desc, col("a"), col("b")).limit(1)
    def applyMerge(seg: org.apache.spark.sql.DataFrame,
        t: org.apache.spark.sql.DataFrame) =
      seg.crossJoin(broadcast(t.select(col("a"), col("b"))))
        .select(expr(
          """aggregate(
            |  slice(split(seg, ' '), 2, size(split(seg, ' ')) - 1),
            |  element_at(split(seg, ' '), 1),
            |  (acc, x) -> if((acc = a
            |                  or right(acc, length(a) + 1) = concat(' ', a))
            |                 and x = b,
            |    concat(acc, b), concat(acc, ' ', x)))""".stripMargin)
          .as("seg"), col("f"))
        .localCheckpoint()
    def symbolsAfter(seg: org.apache.spark.sql.DataFrame) =
      seg.agg(sum(col("f") *
        size(split(col("seg"), " ")).cast("long")).as("symbols_after"))
    def stepRow(step: Int, t: org.apache.spark.sql.DataFrame,
        after: org.apache.spark.sql.DataFrame) =
      t.crossJoin(broadcast(after))
        .select(lit(step).as("step"), col("a").as("left_sym"),
          col("b").as("right_sym"), col("pair_count"),
          col("symbols_after"))
    val t1 = top1(pairCounts(seg0)).localCheckpoint()
    val seg1 = applyMerge(seg0, t1)
    val t2 = top1(pairCounts(seg1)).localCheckpoint()
    val seg2 = applyMerge(seg1, t2)
    val t3 = top1(pairCounts(seg2)).localCheckpoint()
    val seg3 = applyMerge(seg2, t3)
    stepRow(1, t1, symbolsAfter(seg1))
      .unionAll(stepRow(2, t2, symbolsAfter(seg2)))
      .unionAll(stepRow(3, t3, symbolsAfter(seg3)))
      .orderBy("step")
  }

  val q327Sql: String = {
    // one BPE iteration in SQL: pairs -> argmax -> list_reduce re-segment
    def iter(k: Int): String = {
      val prev = if (k == 1) "seg0" else s"seg${k - 1}"
      s"""prs$k AS (
         |  SELECT f, syms[i] AS a, syms[i + 1] AS b
         |  FROM (SELECT f, string_split(seg, ' ') AS syms FROM $prev),
         |    UNNEST(range(1, len(syms))) AS t(i)),
         |pc$k AS (
         |  SELECT a, b, CAST(SUM(f) AS BIGINT) AS pair_count
         |  FROM prs$k GROUP BY 1, 2),
         |top$k AS (
         |  SELECT a, b, pair_count FROM pc$k
         |  ORDER BY pair_count DESC, a, b LIMIT 1),
         |seg$k AS (
         |  SELECT f,
         |    list_reduce(string_split(seg, ' '),
         |      (acc, x) -> CASE WHEN (acc = a
         |            OR right(acc, length(a) + 1) = ' ' || a)
         |          AND x = b
         |        THEN acc || b ELSE acc || ' ' || x END) AS seg
         |  FROM $prev CROSS JOIN top$k),
         |after$k AS (
         |  SELECT CAST(SUM(f * len(string_split(seg, ' '))) AS BIGINT)
         |    AS symbols_after
         |  FROM seg$k)""".stripMargin
    }
    s"""WITH tok AS (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
      |    AS w
      |  FROM documents WHERE length(trim(text)) > 0),
      |words AS (SELECT w, COUNT(*) AS f FROM tok GROUP BY 1),
      |seg0 AS (
      |  SELECT array_to_string(
      |      list_transform(range(1, length(w) + 1),
      |        i -> substr(w, CAST(i AS INTEGER), 1)), ' ')
      |      || ' </w>' AS seg, f
      |  FROM words),
      |${iter(1)},
      |${iter(2)},
      |${iter(3)}
      |SELECT 1 AS step, a AS left_sym, b AS right_sym, pair_count,
      |  symbols_after
      |FROM top1 CROSS JOIN after1
      |UNION ALL
      |SELECT 2, a, b, pair_count, symbols_after
      |FROM top2 CROSS JOIN after2
      |UNION ALL
      |SELECT 3, a, b, pair_count, symbols_after
      |FROM top3 CROSS JOIN after3
      |ORDER BY step""".stripMargin
  }

  // --------------------------------------------------------------- q362
  /** T5/UL2-style span-corruption masking PLAN — the denoising-objective
    * data-prep step between curation and batching (q47 packs sequences;
    * this decides what gets masked): every document receives
    * deterministic, reproducible mask spans at the standard ~15% rate
    * with mean span length 3. The classic iid span sampler is
    * sequential (each span's start depends on the previous span's end);
    * here the corruption is BLOCK-STRATIFIED to stay relational — one
    * 3-token span per 20-token block, started at the block position
    * with the minimum md5 hash of (doc_id, position) — which keeps the
    * 3/20 = 15% rate and non-overlap BY CONSTRUCTION while every block
    * masks independently in parallel (the q329 md5-derandomization
    * discipline applied to masking).
    *
    * Exactness: positions, block bounds, span lengths (clipped at block
    * end), and the masked-position checksum (arithmetic-series sum per
    * span — no second explode) are all integers; the only double is
    * the 6-dp corruption rate.
    *
    * Scale shape: one position explode + one (doc, block) min-struct
    * agg + one per-doc rollup — all map-side-combinable, keyed by
    * document; zero windows, zero sequential dependence. */
  def q362SpanCorruption(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{md5Hash60, tokens}
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), size(col("toks")).as("n"))
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    val pos = d.select(col("doc_id"), col("n"),
        explode(sequence(lit(0), col("n") - 1)).as("p"))
      .withColumn("blk", expr("p div 20"))
      .withColumn("h", md5Hash60(concat(col("doc_id").cast("string"),
        lit(":"), col("p").cast("string"))))
    val spans = pos.groupBy(col("doc_id"), col("blk"))
      .agg(min(struct(col("h"), col("p"))).as("w"),
        max(col("n")).as("n"))
      .select(col("doc_id"), col("n"), col("w.p").as("s"),
        least(expr("blk * 20 + 19"), col("n") - 1).as("be"))
      .select(col("doc_id"), col("n"), col("s"),
        least(lit(3), col("be") - col("s") + 1).as("len"))
    spans.groupBy(col("doc_id"))
      .agg(max(col("n")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_spans"),
        sum(col("len")).cast("long").as("n_masked"),
        sum(expr("len * s + len * (len - 1) div 2")).cast("long")
          .as("mask_checksum"))
      .select(col("doc_id"), col("n_tokens"), col("n_spans"),
        col("n_masked"),
        (round(col("n_masked").cast("double") /
          col("n_tokens").cast("double"), 6) + lit(0.0))
          .as("corruption_rate"),
        col("mask_checksum"))
      .orderBy("doc_id")
  }

  val q362Sql: String = {
    import graft.functions.TextFunctions.md5Hash60Sql
    val h = md5Hash60Sql(
      "CAST(doc_id AS VARCHAR) || ':' || CAST(p AS VARCHAR)")
    s"""WITH d AS (
      |  SELECT doc_id,
      |    len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n
      |  FROM documents WHERE length(trim(text)) > 0),
      |pos AS (
      |  SELECT doc_id, n, unnest(range(0, n)) AS p
      |  FROM d),
      |hp AS (
      |  SELECT doc_id, n, p, p // 20 AS blk, $h AS hh
      |  FROM pos),
      |spans AS (
      |  SELECT doc_id, MAX(n) AS n, arg_min(p, hh) AS s,
      |    LEAST(blk * 20 + 19, MAX(n) - 1) AS be
      |  FROM hp GROUP BY doc_id, blk),
      |lens AS (
      |  SELECT doc_id, n, s, LEAST(3, be - s + 1) AS len
      |  FROM spans)
      |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
      |  COUNT(*) AS n_spans,
      |  CAST(SUM(len) AS BIGINT) AS n_masked,
      |  round(CAST(SUM(len) AS DOUBLE) / CAST(MAX(n) AS DOUBLE), 6) + 0.0
      |    AS corruption_rate,
      |  CAST(SUM(len * s + len * (len - 1) // 2) AS BIGINT)
      |    AS mask_checksum
      |FROM lens GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q371
  /** Stupid-backoff trigram scoring of a HELD-OUT half — the n-gram LM
    * the q59/q83 self-trained scores can't provide: those have no OOV
    * mass by construction, so they never exercise what a real corpus
    * scorer spends most of its time doing — backing off. The model
    * trains on even doc_ids (trigram/bigram/unigram censuses) and
    * scores the odd half with Brants' stupid backoff (α = 0.4):
    * S = c₃/c₂ctx if the trigram was seen, else α·c₂/c₁ctx, else
    * α²·c₁/N, else the α²·1/N OOV floor. Besides the per-doc mean NLL,
    * the per-doc BACKOFF CENSUS (trigram hits / bigram / unigram
    * fallbacks / OOV) is emitted — the novelty fingerprint that makes
    * this a curation signal: a held-out doc whose trigrams mostly HIT
    * the train tables is a near-duplicate of the training set (q48's
    * decontamination concern, measured at the LM level).
    *
    * Exactness: all counts are exact integers; each branch's log-prob
    * is round(ln(one int/int division), 9) plus k · the 9-dp literal
    * ln α (the q59 ln-snap convention — ln's ≤1-ulp cross-engine
    * jitter collapses at 9 dp); per-doc means snap at 6 dp.
    *
    * Scale shape: three map-combinable train censuses (vocabⁿ-bounded
    * hash aggs); scoring is the exploded held-out trigram stream LEFT
    * equi-joined to five count tables (AQE broadcasts those that fit)
    * then ONE hash agg per doc — q83's plan family, every stage linear
    * in the token count. */
  def q371StupidBackoff(spark: SparkSession, dir: String): DataFrame = {
    val lnAlpha = lit(-0.916290732) // round(ln 0.4, 9)
    val d = Kpis.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) >= 3)
    val train = d.filter(pmod(col("doc_id"), lit(2)) === 0)
    val test = d.filter(pmod(col("doc_id"), lit(2)) === 1)
    def tris(src: org.apache.spark.sql.DataFrame) = src
      .select(col("doc_id"), col("lang"),
        (size(col("toks")) - 2).as("n_trigrams"),
        explode(expr("transform(sequence(1, size(toks) - 2), i -> " +
          "struct(toks[i - 1] AS w1, toks[i] AS w2, toks[i + 1] AS w3))"))
          .as("t"))
      .select(col("doc_id"), col("lang"), col("n_trigrams"),
        col("t.w1").as("w1"), col("t.w2").as("w2"), col("t.w3").as("w3"))
    val t3 = tris(train).groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c3"))
    val t2 = train.select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (x, y) => struct(x.as("a"), y.as("b")))).as("bg"))
      .groupBy(col("bg.a").as("a"), col("bg.b").as("b"))
      .agg(count(lit(1)).as("c2"))
    val t1 = train.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val nTot = t1.agg(sum(col("c1")).as("n_train"))
    val dbl = (c: org.apache.spark.sql.Column) => c.cast("double")
    val scored = tris(test)
      .join(t3, Seq("w1", "w2", "w3"), "left")
      .join(t2.select(col("a").as("w1"), col("b").as("w2"),
        col("c2").as("ctx12")), Seq("w1", "w2"), "left")
      .join(t2.select(col("a").as("w2"), col("b").as("w3"),
        col("c2").as("c23")), Seq("w2", "w3"), "left")
      .join(t1.select(col("w").as("w2"), col("c1").as("cu2")),
        Seq("w2"), "left")
      .join(t1.select(col("w").as("w3"), col("c1").as("cu3")),
        Seq("w3"), "left")
      .crossJoin(broadcast(nTot))
      .select(col("doc_id"), col("lang"), col("n_trigrams"),
        when(col("c3").isNotNull, lit("tri"))
          .when(col("c23").isNotNull, lit("bi"))
          .when(col("cu3").isNotNull, lit("uni"))
          .otherwise(lit("oov")).as("kind"),
        when(col("c3").isNotNull,
          round(log(dbl(col("c3")) / dbl(col("ctx12"))), 9))
          .when(col("c23").isNotNull,
            round(log(dbl(col("c23")) / dbl(col("cu2"))), 9) + lnAlpha)
          .when(col("cu3").isNotNull,
            round(log(dbl(col("cu3")) / dbl(col("n_train"))), 9) +
              lnAlpha * 2.0)
          .otherwise(
            round(log(lit(1.0) / dbl(col("n_train"))), 9) +
              lnAlpha * 2.0).as("lp"))
    scored.groupBy(col("doc_id"), col("lang"), col("n_trigrams"))
      .agg(
        sum(when(col("kind") === "tri", 1L).otherwise(0L)).as("tri_hits"),
        sum(when(col("kind") === "bi", 1L).otherwise(0L)).as("bi_backoffs"),
        sum(when(col("kind") === "uni", 1L).otherwise(0L))
          .as("uni_backoffs"),
        sum(when(col("kind") === "oov", 1L).otherwise(0L)).as("oov_floor"),
        (round(-avg(col("lp")), 6) + lit(0.0)).as("avg_nll"))
      .orderBy("doc_id")
  }

  val q371Sql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |d3 AS (SELECT * FROM d WHERE len(toks) >= 3),
      |tr AS (SELECT * FROM d3 WHERE doc_id % 2 = 0),
      |te AS (SELECT * FROM d3 WHERE doc_id % 2 = 1),
      |trt AS (
      |  SELECT toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
      |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 2)) AS i
      |        FROM tr)),
      |t3 AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM trt GROUP BY 1, 2, 3),
      |trb AS (
      |  SELECT toks[i] AS a, toks[i + 1] AS b
      |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
      |        FROM tr)),
      |t2 AS (SELECT a, b, COUNT(*) AS c2 FROM trb GROUP BY 1, 2),
      |t1 AS (
      |  SELECT w, COUNT(*) AS c1
      |  FROM (SELECT unnest(toks) AS w FROM tr) GROUP BY 1),
      |nt AS (SELECT CAST(SUM(c1) AS BIGINT) AS n_train FROM t1),
      |tet AS (
      |  SELECT doc_id, lang, CAST(len(toks) - 2 AS INTEGER) AS n_trigrams,
      |    toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
      |  FROM (SELECT doc_id, lang, toks,
      |          unnest(generate_series(1, len(toks) - 2)) AS i
      |        FROM te)),
      |sc AS (
      |  SELECT tet.doc_id, tet.lang, tet.n_trigrams,
      |    CASE WHEN t3.c3 IS NOT NULL THEN 'tri'
      |         WHEN b23.c2 IS NOT NULL THEN 'bi'
      |         WHEN u3.c1 IS NOT NULL THEN 'uni'
      |         ELSE 'oov' END AS kind,
      |    CASE WHEN t3.c3 IS NOT NULL
      |      THEN round(ln(CAST(t3.c3 AS DOUBLE)
      |        / CAST(x12.c2 AS DOUBLE)), 9)
      |    WHEN b23.c2 IS NOT NULL
      |      THEN round(ln(CAST(b23.c2 AS DOUBLE)
      |        / CAST(u2.c1 AS DOUBLE)), 9) + (-0.916290732)
      |    WHEN u3.c1 IS NOT NULL
      |      THEN round(ln(CAST(u3.c1 AS DOUBLE)
      |        / CAST(nt.n_train AS DOUBLE)), 9) + (-0.916290732) * 2.0
      |    ELSE round(ln(1.0 / CAST(nt.n_train AS DOUBLE)), 9)
      |      + (-0.916290732) * 2.0
      |    END AS lp
      |  FROM tet
      |  LEFT JOIN t3 ON tet.w1 = t3.w1 AND tet.w2 = t3.w2
      |    AND tet.w3 = t3.w3
      |  LEFT JOIN t2 x12 ON tet.w1 = x12.a AND tet.w2 = x12.b
      |  LEFT JOIN t2 b23 ON tet.w2 = b23.a AND tet.w3 = b23.b
      |  LEFT JOIN t1 u2 ON tet.w2 = u2.w
      |  LEFT JOIN t1 u3 ON tet.w3 = u3.w
      |  CROSS JOIN nt)
      |SELECT doc_id, lang, n_trigrams,
      |  CAST(SUM(CASE WHEN kind = 'tri' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS tri_hits,
      |  CAST(SUM(CASE WHEN kind = 'bi' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS bi_backoffs,
      |  CAST(SUM(CASE WHEN kind = 'uni' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS uni_backoffs,
      |  CAST(SUM(CASE WHEN kind = 'oov' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS oov_floor,
      |  round(-avg(lp), 6) + 0.0 AS avg_nll
      |FROM sc GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q391
  /** Perplexity-filter threshold sweep — the tuning table for the
    * CCNet-style cut this module exists to support: q59 scores every
    * document; the operational question is WHERE to cut. For NLL
    * thresholds {6, 7, 8, 9} nats, per language: documents dropped,
    * TOKENS dropped (the number that matters for a token budget), and
    * both shares — all four candidates as conditional sums over the
    * SAME registered q59 plan (q377's multi-threshold discipline:
    * adding a candidate is one more column, never another scoring
    * pass). A cut that drops 2% of docs but 15% of tokens is pruning
    * long documents — exactly the pathology this table makes visible
    * before anyone commits a threshold.
    *
    * Exactness: q59's avg_nll is already 6-dp-snapped and oracle-
    * certified; drop flags are exact comparisons against literal
    * thresholds; counts/sums integer; shares single snapped divisions.
    *
    * Scale shape: the registered q59 plan + ONE map-combinable per-lang
    * aggregate + a 4-row-per-lang unpivot off the census. */
  def q391NllThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val ts = Seq(6.0, 7.0, 8.0, 9.0)
    val scored = q59UnigramNll(spark, dir)
    val aggs =
      Seq(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens")) ++
      ts.flatMap(t => Seq(
        sum(when(col("avg_nll") > t, 1L).otherwise(0L))
          .as(s"d${t.toInt}"),
        sum(when(col("avg_nll") > t, col("n_tokens").cast("long"))
          .otherwise(0L)).as(s"t${t.toInt}")))
    val census = graft.plans.Eager.ckpt(
      scored.groupBy(col("lang")).agg(aggs.head, aggs.tail: _*))
    ts.map { t =>
      census.select(col("lang"), lit(t).as("nll_cut"),
        col(s"d${t.toInt}").as("docs_dropped"),
        col(s"t${t.toInt}").as("tokens_dropped"),
        col("n_docs"), col("n_tokens"))
    }.reduce(_ unionAll _)
      .select(col("lang"), col("nll_cut"), col("docs_dropped"),
        col("tokens_dropped"),
        (round(col("docs_dropped").cast("double") /
          col("n_docs").cast("double"), 6) + lit(0.0)).as("doc_drop_share"),
        (round(col("tokens_dropped").cast("double") /
          col("n_tokens").cast("double"), 6) + lit(0.0))
          .as("token_drop_share"))
      .orderBy("lang", "nll_cut")
  }

  val q391Sql: String = {
    val ts = Seq(6, 7, 8, 9)
    val sums = ts.flatMap(t => Seq(
      s"CAST(SUM(CASE WHEN avg_nll > $t.0 THEN 1 ELSE 0 END) AS BIGINT)" +
        s" AS d$t",
      s"CAST(SUM(CASE WHEN avg_nll > $t.0 THEN n_tokens ELSE 0 END)" +
        s" AS BIGINT) AS t$t")).mkString(",\n      |    ")
    val unpivot = ts.map(t =>
      s"SELECT lang, CAST($t.0 AS DOUBLE) AS nll_cut, d$t AS docs_dropped, " +
        s"t$t AS tokens_dropped, n_docs, n_tokens FROM census")
      .mkString("\n      |  UNION ALL ")
    s"""WITH scored AS ($q59Sql),
      |census AS (
      |  SELECT lang, COUNT(*) AS n_docs,
      |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |    $sums
      |  FROM scored GROUP BY 1),
      |u AS (
      |  $unpivot)
      |SELECT lang, nll_cut, docs_dropped, tokens_dropped,
      |  round(CAST(docs_dropped AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
      |    + 0.0 AS doc_drop_share,
      |  round(CAST(tokens_dropped AS DOUBLE) / CAST(n_tokens AS DOUBLE),
      |    6) + 0.0 AS token_drop_share
      |FROM u ORDER BY lang, nll_cut""".stripMargin
  }

  // --------------------------------------------------------------- q406
  /** DSIR-style importance weights — data selection toward a TARGET
    * domain by importance resampling (Xie et al. 2023, public method):
    * score every raw-corpus document by the average per-token
    * log-likelihood RATIO between a target-domain unigram LM (here the
    * `lang = 'en'` slice, Laplace-smoothed over the raw vocabulary so
    * out-of-target tokens get finite mass) and the raw-corpus unigram
    * LM (q59's MLE — every corpus token has raw count ≥ 1, no smoothing
    * needed). A positive weight means the document looks more like the
    * target than like the corpus average; selecting on w > 0 shifts the
    * mixture toward the target domain without a classifier. Per-lang
    * summary: docs, token mass, mean weight, and the selected share /
    * token mass at the w > 0 cut — the resampling headline. The target
    * lang scoring highest is the method working (asserted in spec).
    *
    * Exactness: both LMs' per-token log terms are 9-dp-snapped before
    * the per-doc average (the q59/q398 discipline); per-doc weights are
    * 6-dp-snapped doubles summed as DECIMAL(18,6) per lang (the
    * q179/q257 snapped-term discipline), so the lang mean is ONE IEEE
    * division; every count/token column is an exact integer.
    *
    * Scale shape: q59's linear doc-scoring exchange run twice over ONE
    * shared token explode (raw counts = vocab-bounded hash agg; target
    * counts = the same agg over the target slice), a vocab-bounded
    * left join + broadcast of three 1-row totals, one linear token→lp
    * equi-join, then a per-doc hash agg and a map-combinable per-lang
    * census. No window, no fact-scale join beyond the token→lp probe. */
  def q406DsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val d = Kpis.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) > 0)
    val tok = d.select(col("doc_id"), col("lang"),
      size(col("toks")).as("n_tokens"), explode(col("toks")).as("token"))
    val raw = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val tgt = tok.filter(col("lang") === "en")
      .groupBy(col("token")).agg(count(lit(1)).as("tcnt"))
    val rawTot = raw.agg(sum(col("cnt")).as("rn"),
      count(lit(1)).as("v"))
    val tgtTot = tgt.agg(sum(col("tcnt")).as("tn"))
    val lp = raw.join(tgt, Seq("token"), "left")
      .crossJoin(broadcast(rawTot)).crossJoin(broadcast(tgtTot))
      .select(col("token"),
        (round(log((coalesce(col("tcnt"), lit(0L)) + lit(1L))
            .cast("double") / (col("tn") + col("v")).cast("double")), 9)
          - round(log(col("cnt").cast("double") / col("rn")), 9)).as("lr"))
    val docw = tok.join(lp, "token")
      .groupBy(col("doc_id"), col("lang"), col("n_tokens"))
      .agg((round(avg(col("lr")), 6) + lit(0.0)).as("w"))
    docw.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("tokens"),
        sum(col("w").cast("decimal(18,6)")).as("wsum"),
        sum(when(col("w") > 0, 1L).otherwise(0L)).as("n_selected"),
        sum(when(col("w") > 0, col("n_tokens").cast("long"))
          .otherwise(0L)).as("selected_tokens"))
      .select(col("lang"), col("n_docs"), col("tokens"),
        r6(col("wsum").cast("double") / col("n_docs").cast("double"))
          .as("mean_w"),
        col("n_selected"),
        r6(col("n_selected").cast("double") / col("n_docs").cast("double"))
          .as("selected_share"),
        col("selected_tokens"))
      .orderBy("lang")
  }

  val q406Sql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |tok AS (
      |  SELECT doc_id, lang, len(toks) AS n_tokens, unnest(toks) AS token
      |  FROM d),
      |raw AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
      |tgt AS (SELECT token, COUNT(*) AS cnt FROM tok WHERE lang = 'en'
      |  GROUP BY token),
      |lp AS (
      |  SELECT r.token,
      |    round(ln((COALESCE(t.cnt, 0) + 1)::DOUBLE /
      |      ((SELECT SUM(cnt) FROM tgt) + (SELECT COUNT(*) FROM raw))), 9)
      |    - round(ln(r.cnt::DOUBLE / (SELECT SUM(cnt) FROM raw)), 9) AS lr
      |  FROM raw r LEFT JOIN tgt t USING (token)),
      |docw AS (
      |  SELECT doc_id, lang, n_tokens, round(avg(lr), 6) + 0.0 AS w
      |  FROM tok JOIN lp USING (token) GROUP BY 1, 2, 3)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS tokens,
      |  round(CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE)
      |    / COUNT(*), 6) + 0.0 AS mean_w,
      |  CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_selected,
      |  round(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END)::DOUBLE
      |    / COUNT(*), 6) + 0.0 AS selected_share,
      |  CAST(SUM(CASE WHEN w > 0 THEN n_tokens ELSE 0 END) AS BIGINT)
      |    AS selected_tokens
      |FROM docw GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q412
  /** LM log-prob quantization loss table — sizing the FROZEN scoring-LM
    * artifact the admission gates ship (AdmissionStream's lmIndex, the
    * CCNet-style frozen model): the (token → log-prob) map is the one
    * artifact whose bytes matter at broadcast time, and uniform scalar
    * quantization of the log-probs is the standard shrink. For b ∈
    * {4, 6, 8} bits: the codebook bytes, the corpus NLL measured under
    * the quantized log-probs vs the exact ones, and the signed NLL
    * drift — read against the guarantee |drift| ≤ step/2 (each token's
    * log-prob moves at most half a grid step, so the cnt-weighted mean
    * moves at most that too; asserted in spec). The elbow says how few
    * bits the gate can ship without moving its q391-calibrated
    * thresholds.
    *
    * Exactness: log-probs are q59's 9-dp-snapped MLE; the grid step and
    * code assignment are identical IEEE expressions in both engines
    * with integer level counts (15/63/255 as literals, no pow); each
    * quantized log-prob re-snaps at 9 dp; corpus NLLs are exact
    * DECIMAL sums of cnt × (9-dp) terms with ONE final division, 6-dp
    * snapped (the q179/q257 discipline).
    *
    * Scale shape: q59's vocab-bounded census (the one linear explode +
    * hash agg), a broadcast 1-row min/max, then all three bit widths
    * ride a 3× explode of the VOCAB (not the corpus) and one
    * map-combinable per-b aggregate. */
  def q412LmQuantization(spark: SparkSession, dir: String): DataFrame = {
    val tok = Kpis.table(spark, dir, "documents")
      .select(tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(explode(col("toks")).as("token"))
    val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val tot = vocab.agg(sum(col("cnt")).as("n"), count(lit(1)).as("v"))
    val lp = vocab.crossJoin(broadcast(tot))
      .select(col("cnt"), col("n"), col("v"),
        round(log(col("cnt").cast("double") / col("n")), 9).as("lp"))
    val mm = lp.agg(min(col("lp")).as("lo"), max(col("lp")).as("hi"))
    val graded = lp.crossJoin(broadcast(mm))
      .select(col("cnt"), col("n"), col("v"), col("lp"), col("lo"),
        col("hi"),
        expr("stack(3, 4, 15L, 6, 63L, 8, 255L) as (b, levels)"))
      .withColumn("step", (col("hi") - col("lo")) / col("levels"))
      .withColumn("lpq", round(col("lo") +
        round((col("lp") - col("lo")) / col("step"), 0).cast("long")
          * col("step"), 9))
    def nllOf(term: Column): Column =
      sum((term.cast("decimal(22,9)") * col("cnt")).cast("decimal(38,9)"))
    graded.groupBy(col("b"))
      .agg(max(col("v")).as("vocab"), max(col("n")).as("n_tokens"),
        max(col("levels")).as("levels"), max(col("step")).as("step_raw"),
        nllOf(col("lp")).as("se"), nllOf(col("lpq")).as("sq"))
      .select(col("b").cast("long").as("bits"), col("vocab"),
        col("n_tokens"),
        expr("(vocab * b + 7) div 8").as("codebook_bytes"),
        r6(abs(col("step_raw"))).as("step"),
        r6(-col("se").cast("double") / col("n_tokens").cast("double"))
          .as("nll_exact"),
        r6(-col("sq").cast("double") / col("n_tokens").cast("double"))
          .as("nll_quant"),
        r6((col("se") - col("sq")).cast("double") /
          col("n_tokens").cast("double")).as("nll_drift"))
      .orderBy("bits")
  }

  val q412Sql: String =
    """WITH d AS (
      |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |tok AS (SELECT unnest(toks) AS token FROM d),
      |vocab AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n, COUNT(*) AS v
      |  FROM vocab),
      |lp AS (
      |  SELECT cnt, n, v,
      |    round(ln(cnt::DOUBLE / n), 9) AS lp
      |  FROM vocab CROSS JOIN tot),
      |mm AS (SELECT MIN(lp) AS lo, MAX(lp) AS hi FROM lp),
      |bits(b, levels) AS (VALUES (4, CAST(15 AS BIGINT)), (6, 63),
      |  (8, 255)),
      |graded AS (
      |  SELECT b, levels, cnt, n, v, lp,
      |    (hi - lo) / levels AS step,
      |    round(lo + CAST(round((lp - lo) / ((hi - lo) / levels), 0)
      |      AS BIGINT) * ((hi - lo) / levels), 9) AS lpq
      |  FROM lp CROSS JOIN mm CROSS JOIN bits),
      |per AS (
      |  SELECT b, MAX(v) AS vocab, MAX(n) AS n_tokens,
      |    MAX(step) AS step_raw,
      |    SUM(CAST(CAST(lp AS DECIMAL(22,9)) * cnt AS DECIMAL(38,9)))
      |      AS se,
      |    SUM(CAST(CAST(lpq AS DECIMAL(22,9)) * cnt AS DECIMAL(38,9)))
      |      AS sq
      |  FROM graded GROUP BY b)
      |SELECT CAST(b AS BIGINT) AS bits, vocab,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  (vocab * b + 7) // 8 AS codebook_bytes,
      |  round(abs(step_raw), 6) + 0.0 AS step,
      |  round(-CAST(se AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) + 0.0
      |    AS nll_exact,
      |  round(-CAST(sq AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) + 0.0
      |    AS nll_quant,
      |  round(CAST(se - sq AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
      |    + 0.0 AS nll_drift
      |FROM per ORDER BY bits""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q412_lm_quantization", q412LmQuantization _, q412Sql),
    Query("q406_dsir_weights", q406DsirWeights _, q406Sql),
    Query("q362_span_corruption", q362SpanCorruption _, q362Sql),
    Query("q327_bpe_merge_ladder", q327BpeMergeLadder _, q327Sql),
    Query("q308_bpe_first_merges", q308BpeFirstMerges _, q308Sql),
    Query("q236_context_overflow", q236ContextOverflow _, q236Sql),
    Query("q59_unigram_nll", q59UnigramNll _, q59Sql),
    Query("q83_bigram_nll", q83BigramNll _, q83Sql),
    Query("q371_stupid_backoff", q371StupidBackoff _, q371Sql),
    Query("q391_nll_threshold_sweep", q391NllThresholdSweep _, q391Sql))
}
