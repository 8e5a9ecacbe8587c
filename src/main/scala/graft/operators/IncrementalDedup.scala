package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.TextFunctions.fingerprint
import graft.queries.Kpis
import graft.sink.Warehouse

/** Incremental batch dedup against a PERSISTED fingerprint store — the
  * missing batch-side twin of [[graft.streaming.DedupStream]]. Every
  * production corpus is built incrementally: crawl N arrives, must drop
  * documents already admitted by crawls 1..N-1, and the survivors' keys
  * join the store for crawl N+1.
  *
  * Store layout is the whole design: fingerprints live in a parquet
  * table BUCKETED on `fp` ([[Warehouse.writeBucketed]]), so the
  * store-side of every batch's LEFT ANTI join is satisfied by the scan
  * itself — at 100 TB the store (one 32-byte md5 per admitted doc) never
  * re-shuffles, no matter how many times it is probed; only the incoming
  * batch (orders of magnitude smaller than the accumulated store) pays a
  * hash exchange, and appending survivors preserves the bucketing.
  * Compare: an unbucketed store re-shuffles its full history EVERY batch.
  *
  * In-batch duplicates are resolved BEFORE the store sees them
  * (first-occurrence-wins via min-struct agg — the q85 convention; no
  * window, so partial aggregation runs map-side). The anti-join runs
  * first so the aggregate only sees store-novel rows and reuses the
  * join's hash partitioning — one Exchange total for the batch side,
  * zero for the store (asserted in IncrementalDedupSpec).
  */
object IncrementalDedup {

  /** The bucket count of every persisted store: this one, the
    * [[IncrementalRollup]] store (whose `aggBatch` exchange must match
    * it) and the [[DocStore]] layouts. */
  val StoreBuckets = 8

  /** (Over)write the fingerprint store: one distinct `fp` per admitted
    * document, hash-bucketed + sorted on `fp`. */
  def writeStore(fps: DataFrame, table: String, path: String): Unit =
    Warehouse.writeBucketed(fps.select("fp").distinct(), table, path,
      "fp", StoreBuckets, mode = "overwrite")

  /** Append newly admitted fingerprints; `saveAsTable` append keeps the
    * table's bucket spec, so later probes stay shuffle-free. */
  def appendToStore(fps: DataFrame, table: String, path: String): Unit =
    Warehouse.writeBucketed(fps.select("fp").distinct(), table, path,
      "fp", StoreBuckets, mode = "append")

  /** Survivors of `batch` (doc_id, lang, fp) vs the persisted store:
    * LEFT ANTI on `fp` (store side shuffle-free off the bucketed scan),
    * then first-occurrence-wins within the batch. */
  def dedupAgainstStore(batch: DataFrame, store: DataFrame): DataFrame =
    batch.join(store.select("fp"), Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("lang"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.lang").as("lang"),
        col("fp"))

  // ---------------------------------------------------------------- q94
  /** Registered incremental-dedup entry, driving the REAL bucketed store
    * end to end each run: batch 1 = the `documents` corpus, whose
    * fingerprints are written to a bucketed store table; batch 2 = a
    * simulated re-crawl — every doc_id % 3 == 0 document again verbatim
    * (must drop against the store), plus every doc_id % 7 == 0 document
    * with fresh text in TWO copies (ids +2e12 and +3e12 — the in-batch
    * duplicate; the smaller id must win). Clone-id offsets are ±1e12 per
    * the round-8 scale-proofing convention (fixture-sized offsets collide
    * with real keys beyond ~sf7). The DuckDB twin replays the derivation
    * declaratively — a hash match certifies the store round-trip changed
    * nothing. */
  def q94IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Kpis.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val fresh = d.filter(col("doc_id") % 7 === 0)
      .withColumn("text", concat(col("text"), lit(" r9 fresh")))
    val batch2 = d.filter(col("doc_id") % 3 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000000000L))
      .unionAll(fresh.withColumn("doc_id", col("doc_id") + lit(2000000000000L)))
      .unionAll(fresh.withColumn("doc_id", col("doc_id") + lit(3000000000000L)))
      .select(col("doc_id"), col("lang"), fingerprint(col("text")).as("fp"))
    val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
    val table = s"graft_q94_store$slug"
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_q94_store$slug"
    writeStore(d.select(fingerprint(col("text")).as("fp")), table, path)
    dedupAgainstStore(batch2, spark.table(table))
      .select(col("doc_id"), col("lang"), col("fp"))
      .orderBy("doc_id")
  }

  val q94Sql: String =
    """WITH d AS (SELECT doc_id, lang, text FROM documents),
      |store AS (
      |  SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
      |  FROM d),
      |fresh AS (
      |  SELECT doc_id, lang, text || ' r9 fresh' AS text
      |  FROM d WHERE doc_id % 7 = 0),
      |b2 AS (
      |  SELECT doc_id + 1000000000000 AS doc_id, lang, text
      |  FROM d WHERE doc_id % 3 = 0
      |  UNION ALL SELECT doc_id + 2000000000000, lang, text FROM fresh
      |  UNION ALL SELECT doc_id + 3000000000000, lang, text FROM fresh),
      |b2f AS (
      |  SELECT doc_id, lang,
      |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
      |  FROM b2),
      |novel AS (
      |  SELECT * FROM b2f
      |  WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.fp = b2f.fp)),
      |intra AS (
      |  SELECT doc_id, lang, fp FROM (
      |    SELECT doc_id, lang, fp,
      |      ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
      |    FROM novel) WHERE rk = 1)
      |SELECT doc_id, lang, fp FROM intra ORDER BY doc_id""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q94_incremental_dedup", q94IncrementalDedup _, q94Sql))
}
