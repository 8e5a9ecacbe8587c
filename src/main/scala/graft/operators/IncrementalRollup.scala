package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.queries.Kpis
import graft.sink.Warehouse

/** Incremental AGGREGATE maintenance against a persisted rollup store —
  * the materialized-view-delta pattern that completes the incremental
  * family beside [[IncrementalDedup]] (exact keys) and the q98 MinHash
  * band store (near-dup): a running per-key rollup (count + exact
  * decimal sum) lives in a parquet table BUCKETED on the key; each new
  * batch partial-aggregates (map-side combinable, orders of magnitude
  * smaller than the accumulated history) and FULL OUTER merges with the
  * store on the bucketed key — the store side comes straight off the
  * bucketed scan with no Exchange, so maintaining the rollup never
  * re-shuffles the history, no matter how many batches have landed.
  * Compare: recomputing the rollup from raw data re-scans every prior
  * batch, and an unbucketed store re-shuffles its full width every
  * merge.
  *
  * Merge algebra: COUNT and SUM are commutative monoids, so
  * coalesce-to-identity + pointwise add is exact; the sum is carried as
  * DECIMAL (the repo's exact-money convention), so merge order can
  * never perturb it. (AVG rides along as sum/cnt at read time; MIN/MAX
  * merge the same way; percentiles do not — those need the q117 sketch
  * path.)
  */
object IncrementalRollup {

  import IncrementalDedup.StoreBuckets

  /** (Over)write the rollup store `(k, cnt, total)`, hash-bucketed +
    * sorted on `k`. At scale this is a partition-overwrite of touched
    * buckets; the fixture driver overwrites the whole (small) table. */
  def writeStore(agg: DataFrame, table: String, path: String): Unit =
    Warehouse.writeBucketed(agg.select("k", "cnt", "total"), table, path,
      "k", StoreBuckets, mode = "overwrite")

  /** Per-key partial aggregate of a raw batch: `(k, cnt, total)` with
    * the sum in exact decimal. The explicit-count `repartition(n, k)`
    * hashes the batch to the STORE's bucket count up front, so the
    * groupBy reuses that exchange and the downstream merge join needs
    * no ENSURE_REQUIREMENTS re-shuffle — the whole batch path costs
    * exactly one Exchange (spec-asserted), map-side partials intact. */
  def aggBatch(batch: DataFrame, key: String, value: String): DataFrame =
    batch.select(col(key).as("k"),
        col(value).cast("decimal(18,4)").as("v"))
      .repartition(StoreBuckets, col("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("total"))

  /** Merge a batch aggregate into the store: FULL OUTER on the bucketed
    * key, coalesce to the monoid identity, pointwise add. Keys seen only
    * in the store pass through untouched; new keys enter with the batch
    * values. */
  def merge(store: DataFrame, batchAgg: DataFrame): DataFrame = {
    val s = store.select(col("k"), col("cnt").as("cnt_s"),
      col("total").as("total_s"))
    val b = batchAgg.select(col("k"), col("cnt").as("cnt_b"),
      col("total").as("total_b"))
    s.join(b, Seq("k"), "full_outer")
      .select(col("k"),
        (coalesce(col("cnt_s"), lit(0L)) + coalesce(col("cnt_b"), lit(0L)))
          .as("cnt"),
        (coalesce(col("total_s"), lit(0).cast("decimal(18,4)")) +
          coalesce(col("total_b"), lit(0).cast("decimal(18,4)")))
          .as("total"))
  }

  // --------------------------------------------------------------- q118
  /** Registered entry driving the REAL bucketed store end to end each
    * run: batch 1 = pre-2000 orders, rolled up per customer and written
    * to the bucketed store; batch 2 = the 2000+ orders, partial-agged
    * and merged. The output (per-customer order count + exact total
    * spend) must equal the rollup computed over ALL orders in one shot —
    * which is exactly what the DuckDB oracle does, so a hash match
    * certifies the store round-trip + monoid merge changed nothing. */
  def q118IncrementalRollup(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = to_timestamp(lit("2000-01-01 00:00:00"))
    val orders = Kpis.table(spark, dir, "orders")
      .select(col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
    val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
    val table = s"graft_q118_store$slug"
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_q118_store$slug"
    writeStore(
      aggBatch(orders.filter(col("o_orderdate") < cutoff),
        "o_custkey", "o_totalprice"),
      table, path)
    val batch2 = aggBatch(orders.filter(col("o_orderdate") >= cutoff),
      "o_custkey", "o_totalprice")
    merge(spark.table(table), batch2)
      .select(col("k").as("o_custkey"), col("cnt").as("n_orders"),
        col("total").cast("double").as("total_spent"))
      .orderBy("o_custkey")
  }

  val q118Sql: String =
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
      |    AS total_spent
      |FROM orders
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q118_incremental_rollup", q118IncrementalRollup _, q118Sql))
}
