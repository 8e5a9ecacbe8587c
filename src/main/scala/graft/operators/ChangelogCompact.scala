package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.queries.Kpis

/** CDC changelog compaction — apply an ordered stream of upserts and
  * delete tombstones to produce the current snapshot (the batch twin of a
  * Debezium/CDC merge, and the history-erasing complement of
  * [[Scd2]]). The reference's warehouse upsert applies changes row-at-a-
  * time through JDBC ON CONFLICT (sink/Upsert.scala); this is the same
  * contract as a set operation over an arbitrarily large backlog.
  *
  * Scale shape: ONE shuffle on the key with full map-side partial
  * aggregation — `max(struct(seq, op, payload…))` folds each partition's
  * versions before the exchange (struct max lowers to SortAggregate, but
  * the plan still runs partial_max map-side — asserted in the spec), so
  * the shuffle moves one candidate row per (partition, key), not the
  * changelog. A window row_number plan (q18's dedup) cannot
  * partial-aggregate; for high-version-count CDC backlogs the agg form
  * is the one you want at 100 TB.
  */
object ChangelogCompact {

  /** Latest-version-wins compaction. `seq` must totally order each key's
    * versions (unique per key — CDC logs carry an LSN/offset with that
    * property); rows whose final `op` equals `deleteOp` are dropped.
    * Output: key, last_seq, payload…, n_versions.
    *
    * If the uniqueness contract is violated, the winner at equal seq is
    * the lexicographically GREATEST (op, payload…) tuple — a documented
    * deterministic order (the struct-max comparison), mirrored by the
    * oracle's `ORDER BY seq DESC, op DESC, payload… DESC`, so a
    * duplicate-LSN log still compacts identically in both engines.
    * `assertUniqueSeq = true` instead fails fast on contract violations,
    * each with its own message: a NULL `seq` (which cannot order versions
    * at all — and which a bare countDistinct would silently exclude,
    * mislabeling the failure as a duplicate) and a duplicate non-null
    * (key, seq) pair. Both guards run in-plan via assert_true — a
    * debug/backfill mode; the distinct count adds an Expand pass, so the
    * default leaves it off. */
  def compact(log: DataFrame, key: Column, seq: Column, op: Column,
              payload: Seq[String], deleteOp: String = "D",
              assertUniqueSeq: Boolean = false): DataFrame = {
    val packed = struct(
      (seq.as("seq") +: op.as("op") +: payload.map(col)): _*)
    val base = log.groupBy(key.as("key"))
    val agged =
      if (assertUniqueSeq)
        base.agg(max(packed).as("m"), count(lit(1)).as("n_versions"),
            countDistinct(seq).as("_n_seq"), count(seq).as("_n_nonnull"))
          // count(seq) skips NULLs: first prove there are none (its own
          // message), THEN distinct-vs-nonnull catches true duplicates
          .where(assert_true(col("_n_nonnull") === col("n_versions"),
            concat(lit("NULL seq in changelog for key "),
              col("key").cast("string"))).isNull)
          .where(assert_true(col("_n_seq") === col("_n_nonnull"),
            concat(lit("duplicate (key, seq) in changelog for key "),
              col("key").cast("string"))).isNull)
      else base.agg(max(packed).as("m"), count(lit(1)).as("n_versions"))
    agged
      .filter(col("m.op") =!= deleteOp)
      .select(
        (col("key") +: col("m.seq").as("last_seq") +:
          payload.map(p => col(s"m.$p").as(p))) :+ col("n_versions"): _*)
  }

  /** Deterministic synthetic changelog over orders: every order arrives
    * as an insert (seq 1); every 3rd key gets a price-revision upsert
    * (seq 2, +10, status R); every 5th key a delete tombstone (seq 3). */
  def ordersChangelog(spark: SparkSession, dir: String): DataFrame = {
    val o = Kpis.table(spark, dir, "orders").select(
      col("o_orderkey").as("k"), col("o_custkey").as("custkey"),
      col("o_totalprice").as("totalprice"),
      col("o_orderstatus").as("status"))
    val v1 = o.select(col("k"), lit(1).as("seq"), lit("U").as("op"),
      col("custkey"), col("totalprice"), col("status"))
    val v2 = o.filter(col("k") % 3 === 0)
      .select(col("k"), lit(2).as("seq"), lit("U").as("op"), col("custkey"),
        (col("totalprice") + lit(10.0)).as("totalprice"),
        lit("R").as("status"))
    val v3 = o.filter(col("k") % 5 === 0)
      .select(col("k"), lit(3).as("seq"), lit("D").as("op"), col("custkey"),
        col("totalprice"), col("status"))
    v1.unionAll(v2).unionAll(v3)
  }

  // ---------------------------------------------------------------- q61
  /** Snapshot after compacting the synthetic orders changelog: deleted
    * keys (every 5th) vanish, revised keys carry the seq-2 payload,
    * n_versions counts all log rows seen per key. */
  def q61CdcCompact(spark: SparkSession, dir: String): DataFrame =
    compact(ordersChangelog(spark, dir), key = col("k"), seq = col("seq"),
        op = col("op"), payload = Seq("custkey", "totalprice", "status"))
      .select(col("key").as("orderkey"), col("last_seq"), col("custkey"),
        col("totalprice"), col("status"), col("n_versions"))
      .orderBy("orderkey")

  val q61Sql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS k, o_custkey AS custkey,
      |    o_totalprice AS totalprice, o_orderstatus AS status
      |  FROM orders),
      |log AS (
      |  SELECT k, 1 AS seq, 'U' AS op, custkey, totalprice, status FROM o
      |  UNION ALL
      |  SELECT k, 2, 'U', custkey, totalprice + 10.0, 'R'
      |  FROM o WHERE k % 3 = 0
      |  UNION ALL
      |  SELECT k, 3, 'D', custkey, totalprice, status
      |  FROM o WHERE k % 5 = 0),
      |last AS (
      |  SELECT *, COUNT(*) OVER (PARTITION BY k) AS n_versions,
      |    -- tie-break mirrors compact()'s struct-max: at equal seq the
      |    -- greatest (op, payload…) tuple wins in BOTH engines
      |    row_number() OVER (PARTITION BY k
      |      ORDER BY seq DESC, op DESC, custkey DESC, totalprice DESC,
      |        status DESC) AS rn
      |  FROM log)
      |SELECT k AS orderkey, CAST(seq AS INTEGER) AS last_seq, custkey,
      |  totalprice, status, CAST(n_versions AS BIGINT) AS n_versions
      |FROM last WHERE rn = 1 AND op <> 'D'
      |ORDER BY orderkey""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q61_cdc_compact", q61CdcCompact _, q61Sql))
}
