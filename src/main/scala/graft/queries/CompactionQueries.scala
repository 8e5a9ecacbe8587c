package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.TextFunctions._
import graft.operators.DupClusters

/** Compaction-aware dedup-store GC (VERDICT r12 #6): the MinHash band
  * store (q98) and the fingerprint store (q94) grow monotonically — one
  * band row per (admitted doc × band) forever. Once near-dup clusters
  * are adjudicated, a non-canonical member's band row is pure overhead
  * WHEN its cluster's canonical doc already occupies the same bucket:
  * every future probe that would have collided with the member still
  * collides with the canonical row, so retention semantics are
  * unchanged. Rows whose bucket the canonical does NOT cover must stay —
  * dropping them would make their bucket undiscoverable (a recall
  * regression, not a compaction).
  */
object CompactionQueries {

  /** The PERSISTED-store half of q340 (VERDICT r13 #3): q340 certifies
    * the drop set in-plan; production GC operates on the WRITTEN q98
    * band store. Given that store (bucket_key, doc_id — q98's layout,
    * bucket_key = band ':' band_hash) and an adjudicated cluster map
    * (doc_id, canon), the droppable rows are the non-canonical rows
    * whose bucket the cluster's canonical ALSO occupies — exactly
    * q340's coverage test, keyed by (canon, bucket_key) so each store
    * row probes once. Rows the canonical does not cover survive:
    * dropping them would orphan their bucket (a recall regression, not
    * a compaction). */
  private[graft] def gcDropRows(store: DataFrame,
      clusters: DataFrame): DataFrame = {
    val marked = store.join(clusters, Seq("doc_id"), "left")
      .withColumn("canon", coalesce(col("canon"), col("doc_id")))
    val canonRows = marked.filter(col("doc_id") === col("canon"))
      .select(col("canon"), col("bucket_key"))
      .withColumn("covered", lit(1))
    marked.join(canonRows, Seq("canon", "bucket_key"), "left")
      .filter(col("doc_id") =!= col("canon") && col("covered").isNotNull)
      .select(col("bucket_key"), col("doc_id"))
  }

  /** Apply the GC to the persisted store as an anti-join delete and
    * write the survivors as the next store GENERATION — same bucket
    * column, same bucket count ([[graft.sink.Warehouse.writeBucketed]]),
    * so post-GC probe joins still come straight off the bucketed scan
    * with no store-side shuffle. Generation-swap (write new table, then
    * retire the old) rather than delete-in-place keeps a complete copy
    * live at every step, the [[graft.sink.Warehouse.compactDay]]
    * crash-safety discipline applied to the band store. */
  private[graft] def compactStore(spark: SparkSession, table: String,
      path: String, clusters: DataFrame, gcTable: String,
      gcPath: String, nBuckets: Int): Unit = {
    val store = spark.table(table)
    val kept = store.join(gcDropRows(store, clusters),
      Seq("bucket_key", "doc_id"), "left_anti")
    graft.sink.Warehouse.writeBucketed(
      kept.select(col("bucket_key"), col("doc_id")),
      gcTable, gcPath, "bucket_key", nBuckets, mode = "overwrite")
  }

  // --------------------------------------------------------------- q340
  /** Band-store compaction ledger over the near-dup corpus (q22/q98's
    * 16-minhash, 8-band × 2-row operating point): build the band store,
    * adjudicate clusters (band-colliding pairs verified at Jaccard ≥
    * 0.5 → connected components, canonical = min member — q45's
    * convention), then per band: rows before, rows dropped (non-canonical
    * rows whose (band, bucket) the canonical also occupies), rows after,
    * and the bucket censuses proving DISCOVERABILITY IS PRESERVED —
    * `buckets_preserved` asserts the distinct-bucket set survived
    * compaction intact, and rows_before − rows_dropped = rows_after is
    * the row reconciliation (the q154 ledger discipline).
    *
    * Scale shape: banding + candidate generation is q22's measured-linear
    * stack (SCALE_NOTES r09); the cluster map joins the band table on
    * doc_id (hash, linear); the canonical-coverage test is one left join
    * keyed by (canon, band, bucket) — each band row probes exactly once;
    * the ledger is an 8-row census agg. On the persisted store the drop
    * is an anti-join DELETE that preserves q98's bucketing (bucket
    * columns untouched), so post-GC probes stay shuffle-free.
    *
    * The oracle replays banding through the shared MinHash SQL fragment
    * (ONE spelling of the signature arithmetic, q22/q42/q98's), the
    * closure through q99's recursive pattern, and the same coverage
    * test — the hash match certifies the drop set row for row. */
  def q340BandStoreGc(spark: SparkSession, dir: String): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    // corpus = documents ∪ near-clones of every 10th doc (q45's fixture
    // shape, so clusters are non-trivial); the repartition spreads the
    // single-file fixture scan before the 16-permutation signature pass
    val corpusSh = DocQueries.corpusWithNearDups(spark, dir)
      .select(col("doc_id"), col("text"))
      .repartition(par, col("doc_id"))
      .select(col("doc_id"), shingles(tokens(col("text")), 3).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = corpusSh
      .withColumn("sig", minhashSignature(col("sh"), 16))
      .select(col("doc_id"), explode(minhashBands(col("sig"), 8, 2)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"),
        col("b.band_hash").as("bh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // adjudicate: candidates off the band buckets, verified at J >= 0.5
    val cand = bands.select(col("band"), col("bh"), col("doc_id").as("a_id"))
      .join(bands.select(col("band"), col("bh"), col("doc_id").as("b_id")),
        Seq("band", "bh"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    val edges = cand
      .join(corpusSh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")),
        "a_id")
      .join(corpusSh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")),
        "b_id")
      .filter(jaccard(col("a_sh"), col("b_sh")) >= 0.5)
      .select(col("a_id"), col("b_id"))
    val canon = DupClusters.connectedComponents(edges, "a_id", "b_id")
      .select(col("node").as("doc_id"), col("comp").as("canon"))
    // coverage test: a non-canonical row drops iff its canonical holds
    // the same (band, bucket)
    val marked = bands.join(canon, Seq("doc_id"), "left")
      .withColumn("canon", coalesce(col("canon"), col("doc_id")))
    val canonRows = marked.filter(col("doc_id") === col("canon"))
      .select(col("canon"), col("band"), col("bh"))
      .withColumn("covered", lit(1))
    val flagged = marked
      .join(canonRows, Seq("canon", "band", "bh"), "left")
      .withColumn("dropped",
        (col("doc_id") =!= col("canon") && col("covered").isNotNull)
          .cast("long"))
    // materialize the 8-row ledger eagerly so both persisted inputs can
    // release (the q98 store-query convention)
    val out = graft.plans.Eager.ckpt(flagged.groupBy(col("band"))
      .agg(count(lit(1)).as("rows_before"),
        sum(col("dropped")).as("rows_dropped"),
        (count(lit(1)) - sum(col("dropped"))).as("rows_after"),
        countDistinct(col("bh")).as("buckets_before"),
        countDistinct(when(col("dropped") === 0L, col("bh")))
          .as("buckets_after"))
      .withColumn("buckets_preserved",
        col("buckets_before") === col("buckets_after"))
      .orderBy("band"))
    bands.unpersist()
    corpusSh.unpersist()
    out
  }

  val q340Sql: String =
    s"""WITH RECURSIVE corpus AS (${DocQueries.corpusNearDupSql}),
      |${DocQueries.minhashPairsSqlFragment("corpus")},
      |v AS (SELECT a_id, b_id FROM pairs WHERE jaccard >= 0.5),
      |sym AS (
      |  SELECT a_id AS src, b_id AS dst FROM v
      |  UNION
      |  SELECT b_id, a_id FROM v),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM sym
      |  UNION
      |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
      |comp AS (
      |  SELECT src AS node, LEAST(src, MIN(dst)) AS canon
      |  FROM reach GROUP BY src),
      |marked AS (
      |  SELECT bd.doc_id, bd.band, bd.bh,
      |    COALESCE(c.canon, bd.doc_id) AS canon
      |  FROM banded bd LEFT JOIN comp c ON bd.doc_id = c.node),
      |canon_rows AS (
      |  SELECT canon, band, bh FROM marked WHERE doc_id = canon),
      |flagged AS (
      |  SELECT m.band, m.bh,
      |    CASE WHEN m.doc_id != m.canon AND cr.canon IS NOT NULL
      |      THEN 1 ELSE 0 END AS dropped
      |  FROM marked m LEFT JOIN canon_rows cr
      |    ON m.canon = cr.canon AND m.band = cr.band AND m.bh = cr.bh)
      |SELECT band, COUNT(*) AS rows_before,
      |  CAST(SUM(dropped) AS BIGINT) AS rows_dropped,
      |  COUNT(*) - CAST(SUM(dropped) AS BIGINT) AS rows_after,
      |  COUNT(DISTINCT bh) AS buckets_before,
      |  COUNT(DISTINCT CASE WHEN dropped = 0 THEN bh END) AS buckets_after,
      |  COUNT(DISTINCT bh) =
      |    COUNT(DISTINCT CASE WHEN dropped = 0 THEN bh END)
      |    AS buckets_preserved
      |FROM flagged GROUP BY band ORDER BY band""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q340_band_store_gc", q340BandStoreGc _, q340Sql))
}
