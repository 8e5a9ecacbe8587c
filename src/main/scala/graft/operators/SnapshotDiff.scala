package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.queries.Kpis

/** Keyed snapshot diff — the "what changed between two table versions"
  * primitive behind data-lake audits, CDC backfills and regression
  * checks on rebuilt tables: classify every key as added / removed /
  * changed / unchanged between an old and a new snapshot, comparing a
  * declared payload column list.
  *
  * Scale shape: ONE full-outer equi-join on the key (each side shuffles
  * once) and a pure-map classification — no windows, no driver
  * collection; the summary rollup is a map-side-combinable count. The
  * per-column comparison uses null-safe equality (`<=>`), so NULL→value
  * and value→NULL transitions classify as changed, not unchanged.
  */
object SnapshotDiff {

  /** Per-key classification frame: (key, change) for every key present
    * in either snapshot; `change ∈ {added, removed, changed, unchanged}`. */
  def diff(oldDf: DataFrame, newDf: DataFrame, key: String,
           payload: Seq[String]): DataFrame = {
    val o = oldDf.select((key +: payload).map(c => col(c).as(s"o_$c")): _*)
    val n = newDf.select((key +: payload).map(c => col(c).as(s"n_$c")): _*)
    val same = payload.map(c => col(s"o_$c") <=> col(s"n_$c"))
      .reduce(_ && _)
    o.join(n, col(s"o_$key") === col(s"n_$key"), "full_outer")
      .select(
        coalesce(col(s"o_$key"), col(s"n_$key")).as("key"),
        when(col(s"o_$key").isNull, lit("added"))
          .when(col(s"n_$key").isNull, lit("removed"))
          .when(same, lit("unchanged"))
          .otherwise(lit("changed")).as("change"))
  }

  // ---------------------------------------------------------------- q90
  /** Diff the orders table against a deterministically perturbed next
    * version (every 4th order re-priced, every 9th dropped, clones of
    * every 11th appended with ids offset +1e12 — far above any real
    * orderkey at any scale factor — the q61 synthetic-changelog
    * convention), summarized per change class. */
  def q90SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = Kpis.table(spark, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
        col("o_orderstatus").as("status"))
    val newSnap = o.filter(col("k") % 9 =!= 0)
      .select(col("k"),
        when(col("k") % 4 === 0, col("price") + lit(5.0))
          .otherwise(col("price")).as("price"),
        col("status"))
      .unionAll(o.filter(col("k") % 11 === 0)
        .select((col("k") + 1000000000000L).as("k"), col("price"),
          col("status")))
    diff(o, newSnap, "k", Seq("price", "status"))
      .groupBy(col("change"))
      .agg(count(lit(1)).as("n_keys"))
      .orderBy("change")
  }

  val q90Sql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS k, o_totalprice AS price,
      |    o_orderstatus AS status
      |  FROM orders),
      |n AS (
      |  SELECT k,
      |    CASE WHEN k % 4 = 0 THEN price + 5.0 ELSE price END AS price,
      |    status
      |  FROM o WHERE k % 9 <> 0
      |  UNION ALL
      |  SELECT k + 1000000000000, price, status FROM o WHERE k % 11 = 0),
      |d AS (
      |  SELECT
      |    CASE WHEN o.k IS NULL THEN 'added'
      |         WHEN n.k IS NULL THEN 'removed'
      |         WHEN o.price IS NOT DISTINCT FROM n.price
      |          AND o.status IS NOT DISTINCT FROM n.status THEN 'unchanged'
      |         ELSE 'changed' END AS change
      |  FROM o FULL OUTER JOIN n ON o.k = n.k)
      |SELECT change, COUNT(*) AS n_keys
      |FROM d GROUP BY change ORDER BY change""".stripMargin

  // --------------------------------------------------------------- q190
  /** Merkle-style segment-digest reconciliation — the SCALE path to
    * q90's row-level diff: instead of full-outer-joining two 100 TB
    * snapshots row by row, compare per-segment digests (row count + a
    * commutative xor fingerprint over md5-hashed rows, keyed by
    * orderkey div 1024) and emit ONLY the segments that disagree, each
    * classified as count_drift (rows added/removed) or content_drift
    * (same cardinality, different bytes). This is exactly the
    * anti-entropy sweep replicated stores run: digests move
    * segment-counts of data, the expensive row diff (q90) then runs on
    * the few flagged segments.
    *
    * The perturbed "replica" reuses q90's deterministic convention:
    * every 4096th-ish order re-priced (k % 1000 = 13) and every
    * k % 1000 = 7 dropped, so only segments containing such keys — a
    * small, fixed set — surface.
    *
    * Exactness: the row fingerprint is [[TextFunctions.md5Hash60]] of
    * `orderkey|price` with the price serialized through DECIMAL(18,2)
    * (both engines print two fixed decimals), folded with BIT_XOR —
    * commutative and associative, so partition order is irrelevant;
    * counts are exact. All-integer/string output: hash-safe.
    *
    * Scale shape: two map-combinable digest aggs (one per snapshot) to
    * |segments| rows each, one segment-keyed join of digest tables, and
    * a mismatch filter. No row ever crosses the network — only digests. */
  def q190SegmentDigestDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = Kpis.table(spark, dir, "orders")
      .select(col("o_orderkey").as("k"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
    val replica = o.filter(col("k") % 1000 =!= 7)
      .select(col("k"),
        when(col("k") % 1000 === 13, (col("price") + lit(1))
          .cast("decimal(18,2)")).otherwise(col("price")).as("price"))
    def digest(df: DataFrame, n: String, fp: String): DataFrame = df
      .withColumn("row_fp", graft.functions.TextFunctions.md5Hash60(
        concat(col("k").cast("string"), lit("|"), col("price").cast("string"))))
      .groupBy(expr("k div 1024").as("segment"))
      .agg(count(lit(1)).as(n), expr("bit_xor(row_fp)").as(fp))
    digest(o, "n_primary", "fp_primary")
      .join(digest(replica, "n_replica", "fp_replica"), Seq("segment"),
        "full_outer")
      .filter(!(col("n_primary") <=> col("n_replica")) ||
        !(col("fp_primary") <=> col("fp_replica")))
      .select(col("segment"),
        coalesce(col("n_primary"), lit(0L)).as("n_primary"),
        coalesce(col("n_replica"), lit(0L)).as("n_replica"),
        when(!(col("n_primary") <=> col("n_replica")), lit("count_drift"))
          .otherwise(lit("content_drift")).as("status"))
      .orderBy("segment")
  }

  val q190Sql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS k,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders),
      |r AS (
      |  SELECT k,
      |    CASE WHEN k % 1000 = 13 THEN CAST(price + 1 AS DECIMAL(18,2))
      |         ELSE price END AS price
      |  FROM o WHERE k % 1000 <> 7),
      |da AS (
      |  SELECT k // 1024 AS segment, COUNT(*) AS n_primary,
      |    BIT_XOR(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
      |      CAST(price AS VARCHAR)), 1, 15))::BIGINT) AS fp_primary
      |  FROM o GROUP BY 1),
      |db AS (
      |  SELECT k // 1024 AS segment, COUNT(*) AS n_replica,
      |    BIT_XOR(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
      |      CAST(price AS VARCHAR)), 1, 15))::BIGINT) AS fp_replica
      |  FROM r GROUP BY 1)
      |SELECT COALESCE(da.segment, db.segment) AS segment,
      |  COALESCE(n_primary, 0) AS n_primary,
      |  COALESCE(n_replica, 0) AS n_replica,
      |  CASE WHEN n_primary IS DISTINCT FROM n_replica THEN 'count_drift'
      |       ELSE 'content_drift' END AS status
      |FROM da FULL OUTER JOIN db ON da.segment = db.segment
      |WHERE n_primary IS DISTINCT FROM n_replica
      |   OR fp_primary IS DISTINCT FROM fp_replica
      |ORDER BY segment""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q90_snapshot_diff", q90SnapshotDiff _, q90Sql),
    Query("q190_segment_digest_diff", q190SegmentDigestDiff _, q190Sql))
}
