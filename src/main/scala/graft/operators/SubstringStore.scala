package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.queries.SubstringQueries.{BF, K, L}

/** Incremental SUBSTRING dedup against a PERSISTED position store — the
  * append story for the q350 family, completing the maintenance picture
  * every other dedup modality already has (exact q94, MinHash-band q98
  * + GC q340, semantic cells q339/q153): crawl N must drop documents
  * that REUSE LONG SPANS of documents admitted by crawls 1..N−1 — the
  * excerpt-level re-crawl case the exact-fingerprint store (q94) is
  * blind to (any edit defeats a whole-doc hash; a 24-token verbatim
  * excerpt still pins provenance).
  *
  * Store layout follows q94's rule — the probe key owns the bucketing:
  * rows are (fp, doc_id, p) K-shingle POSITIONS, hash-bucketed + sorted
  * on the md5 `fp` ([[DocStore]]), so at probe time the
  * store side of the fingerprint join AND the boilerplate-cap count
  * (`groupBy(fp)` rides the same bucketing) are satisfied by the scan
  * itself — the accumulated 100 TB position history never re-shuffles;
  * only the incoming batch pays exchanges. Appending survivors'
  * positions preserves the bucket spec (`saveAsTable` append).
  *
  * The probe replays q352's chain with the store as the big side:
  * batch shingle fingerprints join the capped store positions, stitch
  * per (batch doc, store doc, diagonal) with gaps-and-islands, and
  * collapse to one verdict row per batch document — matched-store-doc
  * count, longest shared span, deterministic best store doc
  * (lexicographic max-struct (run length, −store id)), and the ≥ L
  * dup flag. Clean documents emit verdict rows too (a store admission
  * report must show admitted docs as admitted, the q48 discipline).
  */
object SubstringStore {

  /** Tokenize + K-shingle a (doc_id, text) frame into position rows
    * (fp, doc_id, p) — q350's exact shingling (trim/lower/whitespace
    * tokens, md5 of the space-joined K-slice). */
  def positions(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.tokens
    docs
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) >= K)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("toks")) - K),
          i => md5(array_join(slice(col("toks"), i + lit(1), lit(K)), " "))))
          .as(Seq("p", "fp")))
      .select(col("fp"), col("doc_id"), col("p"))
  }

  /** One table, the positions bucketed on `fp`. */
  val Store: DocStore =
    DocStore(identity, Seq(DocStore.Table("", "fp", positions)))

  /** (Over)write the position store. */
  def writeStore(docs: DataFrame, table: String, path: String): Unit =
    Store.write(docs, table, path)

  /** Append admitted documents' positions, once per document
    * ([[DocStore.append]]): a re-delivered document would otherwise
    * double its positions, inflating the per-fp count behind the [[BF]]
    * cap and the run lengths of every later probe. */
  def appendToStore(docs: DataFrame, table: String, path: String): Unit =
    Store.append(docs, table, path)

  /** One verdict row per batch document vs the persisted store:
    * (doc_id, n_matched_store_docs, longest_span_tokens,
    * best_store_doc, is_dup). `store` must be the bucketed store table
    * — both its fingerprint-frequency cap (store occurrences ≤ BF,
    * q352's boilerplate rule) and the probe join key on `fp` ride the
    * bucketed scan without an exchange. */
  def probeStore(batch: DataFrame, store: DataFrame): DataFrame = {
    val keep = store.groupBy(col("fp"))
      .agg(count(lit(1)).as("n")).filter(col("n") <= BF).select(col("fp"))
    val bpos = positions(batch)
      .select(col("fp"), col("doc_id"), col("p").as("cp"))
    val matches = bpos
      .join(store.join(keep, "fp")
        .select(col("fp"), col("doc_id").as("store_doc"),
          col("p").as("sp")), Seq("fp"))
      .filter(col("doc_id") =!= col("store_doc"))
    val isl = matches.withColumn("diag", col("cp") - col("sp"))
      .withColumn("iid", col("cp") - row_number().over(
        Window.partitionBy(col("doc_id"), col("store_doc"), col("diag"))
          .orderBy(col("cp"))))
    val runs = isl
      .groupBy(col("doc_id"), col("store_doc"), col("diag"), col("iid"))
      .agg(count(lit(1)).as("rl"))
      .filter(col("rl") + lit(K - 1) >= L)
    val hits = runs.groupBy(col("doc_id"))
      .agg(countDistinct(col("store_doc")).as("n_matched_store_docs"),
        max(struct(col("rl"), (-col("store_doc")).as("ns"))).as("m"))
      .select(col("doc_id"), col("n_matched_store_docs"),
        (col("m.rl") + lit(K - 1)).as("longest_span_tokens"),
        (-col("m.ns")).cast("long").as("best_store_doc"))
    batch.select(col("doc_id")).distinct()
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matched_store_docs"), lit(0L))
          .as("n_matched_store_docs"),
        coalesce(col("longest_span_tokens"), lit(0L))
          .cast("long").as("longest_span_tokens"),
        coalesce(col("best_store_doc"), lit(-1L)).as("best_store_doc"),
        (col("longest_span_tokens").isNotNull).cast("int").as("is_dup"))
  }

  /** Retire documents from the persisted position store — the GC story
    * completing this store's maintenance pair (append = [[appendToStore]]),
    * the way q340 completes q98's band store: takedowns (copyright,
    * PII, right-to-be-forgotten — q380's cohort) must remove a
    * document's POSITIONS so future crawls stop being flagged against
    * retired content, without disturbing any other document's verdicts
    * ([[DocStore.retire]]'s generation swap). SubstringGcSpec pins
    * verdict preservation for unrelated probes and admission for probes
    * whose only match was retired. */
  def retireFromStore(spark: SparkSession, table: String,
      retired: DataFrame, gcTable: String, gcPath: String): Unit =
    Store.retire(spark, table, retired, gcTable, gcPath)

  // --------------------------------------------------------------- q358
  /** Registered incremental-substring entry driving the REAL bucketed
    * store end to end each run: batch 1 = the `documents` corpus,
    * position-indexed into the store; batch 2 = a simulated re-crawl
    * where every doc_id % 4 == 0 document with ≥ 28 tokens returns as
    * an EXCERPT — 24 verbatim tokens (positions 5..28) wrapped in
    * doc-unique fresh filler (defeats q94's whole-doc hash, must flag
    * against the store) — and every doc_id % 9 == 0 document returns
    * fully rewritten with doc-unique tokens (must admit clean). Clone
    * ids offset +1e12/+2e12 (the round-8 convention). The DuckDB twin
    * replays store + probe declaratively — a hash match certifies the
    * bucketed round-trip changed nothing. */
  def q358IncrementalSubstring(spark: SparkSession, dir: String)
      : DataFrame = {
    import graft.functions.TextFunctions.tokens
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("text"))
    // `did0` captures the PRE-offset id before the +offset select (the
    // q400/q432 stage-0 note: a bare col("doc_id") in the same select
    // resolves against the POST-offset lateral alias, diverging from the
    // oracle's pre-offset spelling — verdict-invariant here since filler
    // tokens are doc-unique either way, but the corpora must agree)
    val toks = d.select(col("doc_id"), tokens(lower(col("text"))).as("toks"),
      col("doc_id").cast("string").as("did0"))
    val excerpt = toks
      .filter(col("doc_id") % 4 === 0 && size(col("toks")) >= 28)
      .select((col("doc_id") + lit(1000000000000L)).as("doc_id"),
        array_join(concat(
          transform(sequence(lit(1), lit(10)),
            i => concat(lit("xf"), col("did0"), lit("_"), i.cast("string"))),
          slice(col("toks"), 5, 24),
          transform(sequence(lit(1), lit(10)),
            i => concat(lit("yf"), col("did0"), lit("_"), i.cast("string")))),
          " ").as("text"))
    val rewrite = d.withColumn("did0", col("doc_id").cast("string"))
      .filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + lit(2000000000000L)).as("doc_id"),
        array_join(transform(sequence(lit(1), lit(40)),
          i => concat(lit("zf"), col("did0"), lit("_"), i.cast("string"))), " ")
          .as("text"))
    val batch2 = excerpt.unionAll(rewrite)
    val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
    val table = s"graft_q358_store$slug"
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_q358_store$slug"
    writeStore(d, table, path)
    probeStore(batch2, spark.table(table)).orderBy("doc_id")
  }

  val q358Sql: String =
    s"""WITH d AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |store AS MATERIALIZED (
      |  SELECT md5(array_to_string(toks[p + 1 : p + $K], ' ')) AS fp,
      |    doc_id AS store_doc, p AS sp
      |  FROM (SELECT doc_id, toks,
      |          unnest(generate_series(0, len(toks) - $K)) AS p
      |        FROM d WHERE len(toks) >= $K)),
      |keep AS (SELECT fp FROM store GROUP BY fp HAVING COUNT(*) <= $BF),
      |b2 AS (
      |  SELECT dd.doc_id + 1000000000000 AS doc_id,
      |    list_transform(range(1, 11),
      |        i -> 'xf' || CAST(dd.doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR))
      |      || dd.toks[5:28]
      |      || list_transform(range(1, 11),
      |        i -> 'yf' || CAST(dd.doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR))
      |      AS toks
      |  FROM d dd WHERE dd.doc_id % 4 = 0 AND len(dd.toks) >= 28
      |  UNION ALL
      |  SELECT dd.doc_id + 2000000000000 AS doc_id,
      |    list_transform(range(1, 41),
      |      i -> 'zf' || CAST(dd.doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR))
      |  FROM d dd WHERE dd.doc_id % 9 = 0),
      |bpos AS (
      |  SELECT md5(array_to_string(toks[p + 1 : p + $K], ' ')) AS fp,
      |    doc_id, p AS cp
      |  FROM (SELECT doc_id, toks,
      |          unnest(generate_series(0, len(toks) - $K)) AS p
      |        FROM b2 WHERE len(toks) >= $K)),
      |matches AS (
      |  SELECT b.doc_id, s.store_doc, b.cp, s.sp
      |  FROM bpos b
      |  JOIN (SELECT st.* FROM store st JOIN keep USING (fp)) s
      |    ON b.fp = s.fp
      |  WHERE b.doc_id <> s.store_doc),
      |isl AS (
      |  SELECT doc_id, store_doc, cp - sp AS diag, cp,
      |    cp - row_number() OVER (
      |      PARTITION BY doc_id, store_doc, cp - sp ORDER BY cp) AS iid
      |  FROM matches),
      |runs AS (
      |  SELECT doc_id, store_doc, COUNT(*) AS rl
      |  FROM isl GROUP BY doc_id, store_doc, diag, iid
      |  HAVING COUNT(*) + ${K - 1} >= $L),
      |hits AS (
      |  SELECT doc_id,
      |    CAST(COUNT(DISTINCT store_doc) AS BIGINT)
      |      AS n_matched_store_docs,
      |    CAST(MAX(rl) + ${K - 1} AS BIGINT) AS longest_span_tokens,
      |    CAST(MIN(CASE WHEN rl = mrl THEN store_doc END) AS BIGINT)
      |      AS best_store_doc
      |  FROM (SELECT *, MAX(rl) OVER (PARTITION BY doc_id) AS mrl
      |        FROM runs)
      |  GROUP BY doc_id)
      |SELECT b.doc_id,
      |  COALESCE(h.n_matched_store_docs, 0) AS n_matched_store_docs,
      |  COALESCE(h.longest_span_tokens, 0) AS longest_span_tokens,
      |  COALESCE(h.best_store_doc, -1) AS best_store_doc,
      |  CAST(CASE WHEN h.longest_span_tokens IS NOT NULL THEN 1 ELSE 0 END
      |    AS INTEGER) AS is_dup
      |FROM (SELECT DISTINCT doc_id FROM b2) b
      |LEFT JOIN hits h ON b.doc_id = h.doc_id
      |ORDER BY b.doc_id""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q358_incremental_substring", q358IncrementalSubstring _, q358Sql))
}
