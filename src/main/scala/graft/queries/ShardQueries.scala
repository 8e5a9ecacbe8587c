package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.ExactMath.r6
import graft.functions.TextFunctions.{md5Hash60, md5Hash60Sql}

/** Shard-assignment audits — the placement layer under every distributed
  * store this library writes to (warehouse buckets, IVF cells, dedup
  * stores). Reference provenance: the reference shards nothing (single
  * Postgres/MinIO, `dags/process_sales_dags.py`); at 100 TB placement
  * policy IS a query-able property, and the cost of getting it wrong
  * (full-corpus reshuffles on every topology change) is the single
  * largest avoidable data movement a deployment pays.
  */
object ShardQueries {

  // --------------------------------------------------------------- q297
  /** Rendezvous (HRW) vs mod-N sharding stability under ONE node
    * addition (8 → 9 nodes): for every document, its shard under both
    * policies before and after, aggregated to the moved-document share.
    * Theory says mod-N moves ≈ N/(N+1) ≈ 89% of all keys (nearly every
    * residue changes) while rendezvous moves exactly the keys whose new
    * node wins the hash race, E[share] = 1/(N+1) ≈ 11% — this query
    * measures both on the real corpus, turning "use consistent hashing"
    * into an audited number: at 100 TB the difference is ~78 TB of
    * avoided movement per scale-out step.
    *
    * Exactness: shards derive from the shared md5-60bit grid
    * ([[md5Hash60]], same digest both engines); moved flags and counts
    * are integers; the two shares are single integer divisions.
    *
    * Scale shape: ZERO pre-aggregation shuffle — the HRW winner is an
    * expression-side `array_max` over a 9-entry struct array (no
    * explode, no per-node row blow-up; the oracle spells the same
    * argmax relationally), then one map-combinable global agg. */
  def q297ShardStability(spark: SparkSession, dir: String): DataFrame = {
    val h = md5Hash60(col("doc_id").cast("string"))
    def hrwBest(nNodes: Int): Column =
      array_max(array((0 until nNodes).map(n =>
        struct(
          md5Hash60(concat(col("doc_id").cast("string"), lit(s"|node$n")))
            .as("h"),
          lit(n.toLong).as("n"))): _*)).getField("n")
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"))
      .select(
        (h % lit(8L) =!= h % lit(9L)).cast("long").as("mod_moved"),
        (hrwBest(8) =!= hrwBest(9)).cast("long").as("hrw_moved"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("mod_moved")).as("mod_moved"),
        sum(col("hrw_moved")).as("hrw_moved"))
      .select(col("n_docs"), col("mod_moved"), col("hrw_moved"),
        (col("mod_moved").cast("double") / col("n_docs").cast("double"))
          .as("mod_share"),
        (col("hrw_moved").cast("double") / col("n_docs").cast("double"))
          .as("hrw_share"))
  }

  val q297Sql: String = {
    def nh = md5Hash60Sql(
      "CAST(doc_id AS VARCHAR) || '|node' || CAST(n AS VARCHAR)")
    s"""WITH docs AS (SELECT doc_id FROM documents),
      |base AS (
      |  SELECT doc_id, ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} AS h
      |  FROM docs),
      |nodes8 AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7))
      |  v(n)),
      |nodes9 AS (SELECT * FROM
      |  (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8)) v(n)),
      |a8 AS (
      |  SELECT doc_id, arg_max(n, $nh) AS best
      |  FROM docs CROSS JOIN nodes8 GROUP BY doc_id),
      |a9 AS (
      |  SELECT doc_id, arg_max(n, $nh) AS best
      |  FROM docs CROSS JOIN nodes9 GROUP BY doc_id),
      |flags AS (
      |  SELECT CASE WHEN b.h % 8 <> b.h % 9 THEN 1 ELSE 0 END AS mod_moved,
      |    CASE WHEN a8.best <> a9.best THEN 1 ELSE 0 END AS hrw_moved
      |  FROM base b JOIN a8 USING (doc_id) JOIN a9 USING (doc_id))
      |SELECT COUNT(*) AS n_docs,
      |  CAST(SUM(mod_moved) AS BIGINT) AS mod_moved,
      |  CAST(SUM(hrw_moved) AS BIGINT) AS hrw_moved,
      |  CAST(SUM(mod_moved) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |    AS mod_share,
      |  CAST(SUM(hrw_moved) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |    AS hrw_share
      |FROM flags""".stripMargin
  }

  // --------------------------------------------------------------- q355
  /** Z-order vs linear file-layout skip audit — the lakehouse
    * OPTIMIZE ZORDER decision as an audited number. Lineitem rows are
    * assigned to 64 equal "files" under three layouts — sorted by ship
    * date, sorted by part key, and sorted by the Morton z-value
    * interleaving the two 16-bit dimensions — then every file's
    * (min, max) zone map of BOTH dimensions is probed by two realistic
    * workloads: one month-range predicate per distinct ship month, and
    * 32 equal-width part-key ranges. Reported per layout: average
    * files a date probe must scan, average for a part probe, and the
    * combined mean — certifying the z-order trade (each single
    * dimension a bit worse than its dedicated sort, the mixed workload
    * far better than either's worst case).
    *
    * Exactness: day indices, part keys, bit-interleaved z-values, file
    * assignments (NTILE arithmetic on exact global rank), zone bounds,
    * and overlap counts are all integers; the three averages are
    * single int/int divisions snapped to 6 dp.
    *
    * Scale shape: file assignment is [[graft.operators.RangeRank
    * .withNtile]] — range shuffle + broadcast offsets, never a
    * single-partition window — once per layout over the persisted
    * z-augmented fact (the z-value itself is a per-row 16-step integer
    * fold, map-side); zone maps collapse to 64 rows per layout and the
    * probe joins run on broadcast censuses (≤84 months, 32 ranges).
    * The 16-bit dimension normalization is the fixture's domain
    * (days < 2^13, part keys < 2^15 at sf0.1); production would
    * min-max-rescale each dimension to 16 bits first. */
  /** Morton z-value interleaving the low 16 bits of day index `d` (odd
    * bit lanes) and part key `p` (even bit lanes) — unrolled into a
    * 32-term builtin sum so it stays inside whole-stage codegen (r17
    * optimization: the previous `aggregate(sequence(0, 15), ...)` HOF
    * fold paid interpreted lambda dispatch plus a sequence allocation on
    * every fact row; int64 adds are exact and order-free, so the two
    * spellings are bit-identical — asserted in IntVecExprSpec against
    * [[mortonZ16Hof]]). */
  private[graft] def mortonZ16(d: Column, p: Column): Column =
    (0 until 16).map { b =>
      shiftleft(shiftright(d, b).bitwiseAND(lit(1)).cast("long"),
        2 * b + 1) +
        shiftleft(shiftright(p, b).bitwiseAND(lit(1)).cast("long"), 2 * b)
    }.reduce(_ + _)

  /** Executable HOF specification of [[mortonZ16]] over columns named
    * `d` and `p` (the pre-r17 spelling). */
  private[graft] def mortonZ16Hof: Column = expr(
    """aggregate(sequence(0, 15), CAST(0 AS BIGINT), (acc, b) -> acc
      |  + shiftleft(CAST(shiftright(d, b) & 1 AS BIGINT), 2 * b + 1)
      |  + shiftleft(CAST(shiftright(p, b) & 1 AS BIGINT), 2 * b))"""
      .stripMargin)

  /** Executable HOF specification of q359's native FFD fold over columns
    * named `sizes` and `cap` (the pre-r17 spelling). */
  private[graft] def ffdBinsHof: Column = expr(
    """aggregate(sizes, CAST(array() AS ARRAY<BIGINT>),
      |  (acc, x) -> CASE
      |    WHEN size(acc) = 0 THEN array(x)
      |    WHEN array_min(filter(sequence(1, size(acc)),
      |           j -> element_at(acc, j) + x <= cap)) IS NULL
      |      THEN concat(acc, array(x))
      |    ELSE transform(sequence(1, size(acc)),
      |      j -> CASE WHEN j = array_min(filter(sequence(1, size(acc)),
      |             k -> element_at(acc, k) + x <= cap))
      |           THEN element_at(acc, j) + x
      |           ELSE element_at(acc, j) END)
      |  END)""".stripMargin)

  def q355ZorderSkip(spark: SparkSession, dir: String): DataFrame = {
    val epoch = lit(java.sql.Date.valueOf("1992-01-01"))
    val li = Kpis.table(spark, dir, "lineitem")
      .select(datediff(col("l_shipdate"), epoch).as("d"),
        col("l_partkey").cast("int").as("p"),
        col("l_orderkey"), col("l_linenumber"))
    val base = li.withColumn("z", mortonZ16(col("d"), col("p")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def zoneMaps(name: String, keys: Seq[org.apache.spark.sql.Column]) =
      graft.operators.RangeRank.withNtile(base, "f", 64, keys)
        .groupBy(col("f"))
        .agg(min(col("d")).as("min_d"), max(col("d")).as("max_d"),
          min(col("p")).as("min_p"), max(col("p")).as("max_p"))
        .withColumn("layout", lit(name))
    val zm = zoneMaps("1_by_date",
        Seq(col("d"), col("p"), col("l_orderkey"), col("l_linenumber")))
      .unionAll(zoneMaps("2_by_part",
        Seq(col("p"), col("d"), col("l_orderkey"), col("l_linenumber"))))
      .unionAll(zoneMaps("3_zorder",
        Seq(col("z"), col("l_orderkey"), col("l_linenumber"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dateProbes = Kpis.table(spark, dir, "lineitem")
      .select(trunc(col("l_shipdate"), "MM").as("mon")).distinct()
      .select(datediff(col("mon"), epoch).as("lo"),
        datediff(last_day(col("mon")), epoch).as("hi"))
    val partProbes = Kpis.table(spark, dir, "part")
      .agg(min(col("p_partkey")).cast("int").as("pmin"),
        max(col("p_partkey")).cast("int").as("pmax"))
      .select(col("pmin"), col("pmax"),
        expr("(pmax - pmin) div 32 + 1").as("w"))
      .select(explode(sequence(lit(0), lit(31))).as("k"),
        col("pmin"), col("pmax"), col("w"))
      .select((col("pmin") + col("k") * col("w")).as("lo"),
        least(col("pmin") + (col("k") + 1) * col("w") - 1,
          col("pmax")).as("hi"))
    def scannedPairs(probes: DataFrame, lo: String, hi: String,
        out: String) =
      zm.join(broadcast(probes),
          col(s"min_$lo") <= col("hi") && col(s"max_$lo") >= col("lo"))
        .groupBy(col("layout")).agg(count(lit(1)).as(out))
    val dp = scannedPairs(dateProbes, "d", "d", "dpairs")
    val pp = scannedPairs(partProbes, "p", "p", "ppairs")
    val out = graft.plans.Eager.ckpt(
      zm.groupBy(col("layout")).agg(count(lit(1)).as("n_files"))
        .join(dp, "layout").join(pp, "layout")
        .crossJoin(broadcast(dateProbes.agg(count(lit(1)).as("n_dp"))))
        .crossJoin(broadcast(partProbes.agg(count(lit(1)).as("n_pp"))))
        .select(col("layout"), col("n_files"),
          (round(col("dpairs").cast("double") / col("n_dp").cast("double"),
            6) + lit(0.0)).as("avg_files_date_probe"),
          (round(col("ppairs").cast("double") / col("n_pp").cast("double"),
            6) + lit(0.0)).as("avg_files_part_probe"),
          (round((col("dpairs").cast("double") / col("n_dp").cast("double")
            + col("ppairs").cast("double") / col("n_pp").cast("double"))
            / 2.0, 6) + lit(0.0)).as("avg_files_combined"))
        .orderBy("layout"))
    zm.unpersist(); base.unpersist()
    out
  }

  val q355Sql: String = {
    val z =
      """CAST(list_sum(list_transform(range(0, 16), b ->
        |    (CAST((d >> CAST(b AS INTEGER)) & 1 AS BIGINT)
        |      << CAST(2 * b + 1 AS INTEGER))
        |    + (CAST((p >> CAST(b AS INTEGER)) & 1 AS BIGINT)
        |      << CAST(2 * b AS INTEGER)))) AS BIGINT)""".stripMargin
    s"""WITH base AS (
      |  SELECT datediff('day', DATE '1992-01-01', l_shipdate) AS d,
      |    CAST(l_partkey AS INTEGER) AS p, l_orderkey, l_linenumber
      |  FROM lineitem),
      |bz AS MATERIALIZED (SELECT *, $z AS z FROM base),
      |t1 AS (SELECT d, p,
      |  NTILE(64) OVER (ORDER BY d, p, l_orderkey, l_linenumber) AS f
      |  FROM bz),
      |t2 AS (SELECT d, p,
      |  NTILE(64) OVER (ORDER BY p, d, l_orderkey, l_linenumber) AS f
      |  FROM bz),
      |t3 AS (SELECT d, p,
      |  NTILE(64) OVER (ORDER BY z, l_orderkey, l_linenumber) AS f
      |  FROM bz),
      |zm AS MATERIALIZED (
      |  SELECT '1_by_date' AS layout, f, MIN(d) AS min_d, MAX(d) AS max_d,
      |    MIN(p) AS min_p, MAX(p) AS max_p FROM t1 GROUP BY f
      |  UNION ALL
      |  SELECT '2_by_part', f, MIN(d), MAX(d), MIN(p), MAX(p)
      |  FROM t2 GROUP BY f
      |  UNION ALL
      |  SELECT '3_zorder', f, MIN(d), MAX(d), MIN(p), MAX(p)
      |  FROM t3 GROUP BY f),
      |dprobes AS MATERIALIZED (
      |  SELECT datediff('day', DATE '1992-01-01', mon) AS lo,
      |    datediff('day', DATE '1992-01-01', last_day(mon)) AS hi
      |  FROM (SELECT DISTINCT date_trunc('month', l_shipdate) AS mon
      |        FROM lineitem)),
      |pbounds AS (
      |  SELECT CAST(MIN(p_partkey) AS INTEGER) AS pmin,
      |    CAST(MAX(p_partkey) AS INTEGER) AS pmax,
      |    (CAST(MAX(p_partkey) AS INTEGER)
      |      - CAST(MIN(p_partkey) AS INTEGER)) // 32 + 1 AS w
      |  FROM part),
      |pprobes AS MATERIALIZED (
      |  SELECT pmin + k * w AS lo,
      |    least(pmin + (k + 1) * w - 1, pmax) AS hi
      |  FROM pbounds, UNNEST(range(0, 32)) AS t(k)),
      |dp AS (
      |  SELECT layout, COUNT(*) AS dpairs
      |  FROM zm JOIN dprobes pr ON zm.min_d <= pr.hi AND zm.max_d >= pr.lo
      |  GROUP BY layout),
      |pp AS (
      |  SELECT layout, COUNT(*) AS ppairs
      |  FROM zm JOIN pprobes pr ON zm.min_p <= pr.hi AND zm.max_p >= pr.lo
      |  GROUP BY layout),
      |nf AS (SELECT layout, COUNT(*) AS n_files FROM zm GROUP BY layout),
      |nd AS (SELECT COUNT(*) AS n_dp FROM dprobes),
      |np AS (SELECT COUNT(*) AS n_pp FROM pprobes)
      |SELECT nf.layout, nf.n_files,
      |  round(CAST(dpairs AS DOUBLE) / CAST(n_dp AS DOUBLE), 6) + 0.0
      |    AS avg_files_date_probe,
      |  round(CAST(ppairs AS DOUBLE) / CAST(n_pp AS DOUBLE), 6) + 0.0
      |    AS avg_files_part_probe,
      |  round((CAST(dpairs AS DOUBLE) / CAST(n_dp AS DOUBLE)
      |    + CAST(ppairs AS DOUBLE) / CAST(n_pp AS DOUBLE)) / 2.0, 6) + 0.0
      |    AS avg_files_combined
      |FROM nf JOIN dp ON nf.layout = dp.layout
      |JOIN pp ON nf.layout = pp.layout
      |CROSS JOIN nd CROSS JOIN np
      |ORDER BY nf.layout""".stripMargin
  }

  // --------------------------------------------------------------- q359
  /** First-fit-decreasing compaction plan for the small-files problem —
    * the OPTIMIZE/compaction DECISION beside [[graft.sink.Warehouse
    * .compactDay]]'s physical execution: every incremental lake
    * accumulates one file per ingest tick (here: one "file" per order
    * day, its row count the size), and the maintenance pass must pack
    * them into target-capacity files. FFD — sort sizes descending,
    * place each into the first bin that fits — is the classic
    * guarantee (≤ 11/9·OPT + 1 bins) and runs here as a RELATIONAL
    * FOLD over the size census (the q354 convention), with the packing
    * verdict beside the information-theoretic lower bound
    * ⌈total/capacity⌉ so the plan's overhead is an audited number.
    *
    * Exactness: sizes, capacity (4× the largest file — data-derived,
    * scale-invariant), bin loads, and bounds are all integers; the
    * only double is the 6-dp fill fraction.
    *
    * Scale shape: one map-side-combinable (day, count) census is the
    * only fact-scale pass; the descending sort and the FFD fold run on
    * the date-domain-bounded census array (≤ |days| elements) inside
    * one row. First-fit scans bins per file — O(files × bins) integer
    * lambda steps, date-domain-bounded, zero shuffle. */
  def q359CompactionPlan(spark: SparkSession, dir: String): DataFrame = {
    val files = Kpis.table(spark, dir, "orders")
      .groupBy(col("o_orderdate").as("day")).agg(count(lit(1)).as("c"))
    val census = files.agg(
        sort_array(collect_list(struct((-col("c")).as("nc"), col("day"))))
          .as("sf"),
        count(lit(1)).as("n_files_before"),
        sum(col("c")).as("total_rows"),
        (max(col("c")) * lit(4L)).as("cap"))
      .select(transform(col("sf"), s => (-s.getField("nc")).cast("long"))
        .as("sizes"), col("n_files_before"), col("total_rows"), col("cap"))
    // Native FFD fold (r17 optimization): one in-place O(files x bins)
    // primitive pass, bit-identical to the relational HOF fold kept as
    // [[ffdBinsHof]] (asserted in IntVecExprSpec) — the HOF spelling
    // rebuilt the whole bin array per placed file (an interpreted lambda
    // step and an array allocation per (file, bin) probe, which WAS
    // q359's measured 14 s).
    val bins = org.apache.spark.sql.graft.ColumnShim.column(
      org.apache.spark.sql.graft.FfdPackL(
        org.apache.spark.sql.graft.ColumnShim.expression(col("sizes")),
        org.apache.spark.sql.graft.ColumnShim.expression(col("cap"))))
    census.select(col("n_files_before"), col("total_rows"), col("cap"),
        bins.as("bins"))
      .select(col("n_files_before"), col("total_rows"),
        col("cap").as("capacity"),
        size(col("bins")).cast("long").as("n_bins_after"),
        expr("(total_rows + cap - 1) div cap").as("lb_bins"),
        array_max(col("bins")).as("max_bin_rows"),
        array_min(col("bins")).as("min_bin_rows"),
        (round(col("total_rows").cast("double") /
          (size(col("bins")).cast("double") * col("cap").cast("double")),
          6) + lit(0.0)).as("fill_frac"))
  }

  val q359Sql: String =
    """WITH files AS (
      |  SELECT o_orderdate AS day, COUNT(*) AS c FROM orders GROUP BY 1),
      |census AS (
      |  SELECT list_transform(list_sort(list({'nc': -c, 'day': day})),
      |      s -> CAST(-s.nc AS BIGINT)) AS sizes,
      |    COUNT(*) AS n_files_before,
      |    CAST(SUM(c) AS BIGINT) AS total_rows,
      |    CAST(MAX(c) * 4 AS BIGINT) AS cap
      |  FROM files),
      |packed AS (
      |  SELECT *,
      |    list_reduce(
      |      [[]::BIGINT[]] || list_transform(sizes, x -> [x]),
      |      (acc, xx) -> CASE
      |        WHEN list_min(list_filter(range(1, len(acc) + 1),
      |               j -> acc[CAST(j AS INTEGER)] + xx[1] <= cap)) IS NULL
      |          THEN acc || [xx[1]]
      |        ELSE list_transform(range(1, len(acc) + 1),
      |          j -> CASE WHEN j = list_min(list_filter(
      |                 range(1, len(acc) + 1),
      |                 k -> acc[CAST(k AS INTEGER)] + xx[1] <= cap))
      |               THEN acc[CAST(j AS INTEGER)] + xx[1]
      |               ELSE acc[CAST(j AS INTEGER)] END)
      |      END) AS bins
      |  FROM census)
      |SELECT n_files_before, total_rows, cap AS capacity,
      |  CAST(len(bins) AS BIGINT) AS n_bins_after,
      |  (total_rows + cap - 1) // cap AS lb_bins,
      |  CAST(list_max(bins) AS BIGINT) AS max_bin_rows,
      |  CAST(list_min(bins) AS BIGINT) AS min_bin_rows,
      |  round(CAST(total_rows AS DOUBLE)
      |    / (CAST(len(bins) AS DOUBLE) * CAST(cap AS DOUBLE)), 6) + 0.0
      |    AS fill_frac
      |FROM packed""".stripMargin

  // --------------------------------------------------------------- q361
  /** Layout-drift / re-OPTIMIZE trigger audit — the third leg of the
    * storage-maintenance stool (q355 chooses the layout, q359 plans the
    * compaction, this decides WHEN to re-sort): a z-ordered table
    * degrades as appends land in arrival order, and the decision to pay
    * a full re-sort should be a measured number, not a hunch. The first
    * 75% of lineitem (by order key — the "historical ingest") is
    * z-ordered into 48 files; the last 25% ("recent appends") lands in
    * 16 arrival-order files. Both probe workloads from q355 run against
    * three states — the pristine z-order of the base alone, the drifted
    * base+tail table, and the re-optimized full re-sort into 64 files —
    * so the drift penalty and the re-sort payoff are read side by side.
    *
    * Exactness: q355's machinery verbatim (integer z-values, NTILE on
    * exact ranks, integer zone maps and overlap counts; 6-dp snapped
    * averages).
    *
    * Scale shape: as q355 — RangeRank range-shuffles per layout build
    * are the whole cost; zone maps collapse to ≤64 rows per state and
    * probes are broadcast censuses. The 75/25 split is one pushed-down
    * predicate on the already-scanned fact. */
  def q361LayoutDrift(spark: SparkSession, dir: String): DataFrame = {
    val epoch = lit(java.sql.Date.valueOf("1992-01-01"))
    val li = Kpis.table(spark, dir, "lineitem")
      .select(datediff(col("l_shipdate"), epoch).as("d"),
        col("l_partkey").cast("int").as("p"),
        col("l_orderkey"), col("l_linenumber"))
    val cut = li.agg(
      expr("(min(l_orderkey) * 25 + max(l_orderkey) * 75) div 100")
        .as("cutk"))
    val base = li.crossJoin(broadcast(cut))
      .withColumn("z", mortonZ16(col("d"), col("p")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def zoneMaps(df: DataFrame, name: String, nFiles: Int,
        keys: Seq[org.apache.spark.sql.Column], fileOffset: Int = 0) =
      graft.operators.RangeRank.withNtile(df, "f", nFiles, keys)
        .groupBy((col("f") + lit(fileOffset)).as("f"))
        .agg(min(col("d")).as("min_d"), max(col("d")).as("max_d"),
          min(col("p")).as("min_p"), max(col("p")).as("max_p"))
        .withColumn("layout", lit(name))
    val zKeys = Seq(col("z"), col("l_orderkey"), col("l_linenumber"))
    val arrivalKeys = Seq(col("l_orderkey"), col("l_linenumber"))
    val pristine = zoneMaps(base.filter(col("l_orderkey") <= col("cutk")),
      "1_pristine_base", 48, zKeys)
    val drifted = pristine
      .withColumn("layout", lit("2_drifted_appends"))
      .unionAll(zoneMaps(base.filter(col("l_orderkey") > col("cutk")),
        "2_drifted_appends", 16, arrivalKeys, fileOffset = 48))
    val reopt = zoneMaps(base, "3_reoptimized", 64, zKeys)
    val zm = pristine.unionAll(drifted).unionAll(reopt)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dateProbes = Kpis.table(spark, dir, "lineitem")
      .select(trunc(col("l_shipdate"), "MM").as("mon")).distinct()
      .select(datediff(col("mon"), epoch).as("lo"),
        datediff(last_day(col("mon")), epoch).as("hi"))
    val partProbes = Kpis.table(spark, dir, "part")
      .agg(min(col("p_partkey")).cast("int").as("pmin"),
        max(col("p_partkey")).cast("int").as("pmax"))
      .select(col("pmin"), col("pmax"),
        expr("(pmax - pmin) div 32 + 1").as("w"))
      .select(explode(sequence(lit(0), lit(31))).as("k"),
        col("pmin"), col("pmax"), col("w"))
      .select((col("pmin") + col("k") * col("w")).as("lo"),
        least(col("pmin") + (col("k") + 1) * col("w") - 1,
          col("pmax")).as("hi"))
    def pairs(probes: DataFrame, dim: String, out: String) =
      zm.join(broadcast(probes),
          col(s"min_$dim") <= col("hi") && col(s"max_$dim") >= col("lo"))
        .groupBy(col("layout")).agg(count(lit(1)).as(out))
    val out = graft.plans.Eager.ckpt(
      zm.groupBy(col("layout")).agg(count(lit(1)).as("n_files"))
        .join(pairs(dateProbes, "d", "dpairs"), "layout")
        .join(pairs(partProbes, "p", "ppairs"), "layout")
        .crossJoin(broadcast(dateProbes.agg(count(lit(1)).as("n_dp"))))
        .crossJoin(broadcast(partProbes.agg(count(lit(1)).as("n_pp"))))
        .select(col("layout"), col("n_files"),
          (round(col("dpairs").cast("double") / col("n_dp").cast("double"),
            6) + lit(0.0)).as("avg_files_date_probe"),
          (round(col("ppairs").cast("double") / col("n_pp").cast("double"),
            6) + lit(0.0)).as("avg_files_part_probe"),
          (round((col("dpairs").cast("double") / col("n_dp").cast("double")
            + col("ppairs").cast("double") / col("n_pp").cast("double"))
            / 2.0, 6) + lit(0.0)).as("avg_files_combined"))
        .orderBy("layout"))
    zm.unpersist(); base.unpersist()
    out
  }

  val q361Sql: String = {
    val z =
      """CAST(list_sum(list_transform(range(0, 16), b ->
        |    (CAST((d >> CAST(b AS INTEGER)) & 1 AS BIGINT)
        |      << CAST(2 * b + 1 AS INTEGER))
        |    + (CAST((p >> CAST(b AS INTEGER)) & 1 AS BIGINT)
        |      << CAST(2 * b AS INTEGER)))) AS BIGINT)""".stripMargin
    s"""WITH li AS (
      |  SELECT datediff('day', DATE '1992-01-01', l_shipdate) AS d,
      |    CAST(l_partkey AS INTEGER) AS p, l_orderkey, l_linenumber
      |  FROM lineitem),
      |cut AS (
      |  SELECT (MIN(l_orderkey) * 25 + MAX(l_orderkey) * 75) // 100
      |    AS cutk
      |  FROM li),
      |bz AS MATERIALIZED (SELECT li.*, $z AS z FROM li),
      |pristine AS (
      |  SELECT '1_pristine_base' AS layout, f, MIN(d) AS min_d,
      |    MAX(d) AS max_d, MIN(p) AS min_p, MAX(p) AS max_p
      |  FROM (SELECT d, p,
      |          NTILE(48) OVER (ORDER BY z, l_orderkey, l_linenumber) AS f
      |        FROM bz, cut WHERE l_orderkey <= cutk)
      |  GROUP BY f),
      |drifted AS (
      |  SELECT '2_drifted_appends' AS layout, f, min_d, max_d, min_p, max_p
      |  FROM pristine
      |  UNION ALL
      |  SELECT '2_drifted_appends', f + 48, MIN(d), MAX(d), MIN(p), MAX(p)
      |  FROM (SELECT d, p,
      |          NTILE(16) OVER (ORDER BY l_orderkey, l_linenumber) AS f
      |        FROM bz, cut WHERE l_orderkey > cutk)
      |  GROUP BY f),
      |reopt AS (
      |  SELECT '3_reoptimized' AS layout, f, MIN(d), MAX(d), MIN(p), MAX(p)
      |  FROM (SELECT d, p,
      |          NTILE(64) OVER (ORDER BY z, l_orderkey, l_linenumber) AS f
      |        FROM bz)
      |  GROUP BY f),
      |zm AS MATERIALIZED (
      |  SELECT * FROM pristine UNION ALL SELECT * FROM drifted
      |  UNION ALL SELECT * FROM reopt),
      |dprobes AS MATERIALIZED (
      |  SELECT datediff('day', DATE '1992-01-01', mon) AS lo,
      |    datediff('day', DATE '1992-01-01', last_day(mon)) AS hi
      |  FROM (SELECT DISTINCT date_trunc('month', l_shipdate) AS mon
      |        FROM lineitem)),
      |pbounds AS (
      |  SELECT CAST(MIN(p_partkey) AS INTEGER) AS pmin,
      |    CAST(MAX(p_partkey) AS INTEGER) AS pmax,
      |    (CAST(MAX(p_partkey) AS INTEGER)
      |      - CAST(MIN(p_partkey) AS INTEGER)) // 32 + 1 AS w
      |  FROM part),
      |pprobes AS MATERIALIZED (
      |  SELECT pmin + k * w AS lo,
      |    least(pmin + (k + 1) * w - 1, pmax) AS hi
      |  FROM pbounds, UNNEST(range(0, 32)) AS t(k)),
      |dp AS (
      |  SELECT layout, COUNT(*) AS dpairs
      |  FROM zm JOIN dprobes pr ON zm.min_d <= pr.hi AND zm.max_d >= pr.lo
      |  GROUP BY layout),
      |pp AS (
      |  SELECT layout, COUNT(*) AS ppairs
      |  FROM zm JOIN pprobes pr ON zm.min_p <= pr.hi AND zm.max_p >= pr.lo
      |  GROUP BY layout),
      |nf AS (SELECT layout, COUNT(*) AS n_files FROM zm GROUP BY layout),
      |nd AS (SELECT COUNT(*) AS n_dp FROM dprobes),
      |np AS (SELECT COUNT(*) AS n_pp FROM pprobes)
      |SELECT nf.layout, nf.n_files,
      |  round(CAST(dpairs AS DOUBLE) / CAST(n_dp AS DOUBLE), 6) + 0.0
      |    AS avg_files_date_probe,
      |  round(CAST(ppairs AS DOUBLE) / CAST(n_pp AS DOUBLE), 6) + 0.0
      |    AS avg_files_part_probe,
      |  round((CAST(dpairs AS DOUBLE) / CAST(n_dp AS DOUBLE)
      |    + CAST(ppairs AS DOUBLE) / CAST(n_pp AS DOUBLE)) / 2.0, 6) + 0.0
      |    AS avg_files_combined
      |FROM nf JOIN dp ON nf.layout = dp.layout
      |JOIN pp ON nf.layout = pp.layout
      |CROSS JOIN nd CROSS JOIN np
      |ORDER BY nf.layout""".stripMargin
  }

  // --------------------------------------------------------------- q363
  /** Per-file bloom-filter vs zone-map POINT-LOOKUP skip audit — the
    * fourth leg of the storage-maintenance stool (q355 picks the sort
    * layout, q359 packs the files, q361 prices layout drift; all three
    * probe RANGES, where min/max zone maps shine). Point lookups are
    * where zone maps fail on any layout NOT sorted by the probed
    * column: every arrival-order file spans nearly the full key domain,
    * so min ≤ k ≤ max admits every file. Lineitem rows are assigned to
    * 64 files under the part-sorted and arrival-order layouts; each
    * file gets BOTH a (min,max) zone map and a hand-rolled bloom filter
    * on the part key (m = 131072 bits, k = 3 — the q299 replayable md5
    * position grid, never Spark's opaque BloomFilterAggregate); every
    * 499th part key is probed as a point lookup. Reported per layout:
    * average files a lookup truly needs, and the averages a zone-map
    * gate, a bloom gate, and the stacked zone∧bloom gate would scan —
    * certifying the lakehouse rule "zone maps for the sort key, blooms
    * for point lookups on everything else" as audited numbers (on the
    * sorted layout the zone map alone is ~1 file; on arrival order it
    * degenerates to ~all files while the bloom stays within false-
    * positive reach of the true count).
    *
    * Exactness: file assignments (NTILE arithmetic on exact global
    * rank), zone bounds, bit positions, hit counts, and pair counts are
    * all integers; bloom membership = all 3 exploded probe positions
    * set, counted per-slot identically in both engines (q299's rule);
    * the four averages are single int/int divisions snapped to 6 dp.
    * m is a fixture-scale literal — production sizes m ∝ distinct keys
    * per file (q299's note); the cert's point is exact replay.
    *
    * Scale shape: two [[graft.operators.RangeRank.withNtile]] range
    * shuffles of the fact (one per layout) into one distinct over
    * (layout, file, key) — all linear; zone maps collapse to 128 rows,
    * bloom bit sets are census-bounded by 3·distinct keys per file and
    * are probed MAP-SIDE by the broadcast ≤3·|probes| position table
    * (the production bloom-skip shape: the index is scanned once, the
    * probe set ships to it); every downstream set operation runs on
    * ≤ 2·64·|probes| census rows. */
  def q363BloomSkip(spark: SparkSession, dir: String): DataFrame = {
    val M = 131072L
    def positions(key: Column): Column = array((1 to 3).map(j =>
      pmod(md5Hash60(concat(key.cast("string"), lit(s"#$j"))), lit(M))): _*)
    // ONE fact scan for BOTH layout passes (r18, guide §2.4): each
    // RangeRank pass range-shuffles and checkpoints the fact, and
    // previously each re-ran the parquet scan + projection. The
    // checkpoint is a scan-PROJECTION (no shuffle above it), so it keeps
    // the scan's partitioning — the q367-good materialization shape,
    // not the q414 post-shuffle pathology.
    val li = Kpis.table(spark, dir, "lineitem")
      .select(col("l_partkey").cast("int").as("p"),
        col("l_orderkey"), col("l_linenumber"))
      .localCheckpoint(true)
    def filesOf(name: String, keys: Seq[Column]) =
      graft.operators.RangeRank.withNtile(li, "f", 64, keys)
        .select(lit(name).as("layout"), col("f"), col("p"))
    // the two layout passes are independent jobs over the one fact
    // checkpoint — overlap them (guide §2.6, the q430/q437 discipline):
    // each pass's range shuffle + eager checkpoint leaves cores idle in
    // its task tail that the other pass's jobs back-fill. Same jobs,
    // just concurrent ⇒ byte-identical results.
    val (fpPart, fpArr) = graft.plans.Overlap.two(
      filesOf("1_by_part",
        Seq(col("p"), col("l_orderkey"), col("l_linenumber"))),
      filesOf("2_arrival", Seq(col("l_orderkey"), col("l_linenumber"))))
    val fp = fpPart.unionAll(fpArr)
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val zm = fp.groupBy(col("layout"), col("f"))
      .agg(min(col("p")).as("min_p"), max(col("p")).as("max_p"))
    val bits = fp.select(col("layout"), col("f"),
      explode(positions(col("p"))).as("pos")).distinct()
    val probes = Kpis.table(spark, dir, "part")
      .select(col("p_partkey").cast("int").as("k"))
      .filter(pmod(col("k"), lit(53)) === 11)
    val probePos = probes.select(col("k"),
      explode(positions(col("k"))).as("pos"))
    val bloomPairs = bits.join(broadcast(probePos), "pos")
      .groupBy(col("layout"), col("f"), col("k"))
      .agg(count(lit(1)).as("hits")).filter(col("hits") === 3L)
      .select(col("layout"), col("f"), col("k"))
    val zonePairs = zm.join(broadcast(probes),
        col("min_p") <= col("k") && col("max_p") >= col("k"))
      .select(col("layout"), col("f"), col("k"))
    val truePairs = fp.join(broadcast(probes), col("p") === col("k"))
      .select(col("layout"), col("f"), col("k"))
    val bothPairs = bloomPairs.join(zonePairs, Seq("layout", "f", "k"))
      .select(col("layout"), col("f"), col("k"))
    def cnt(df: DataFrame, out: String) =
      df.groupBy(col("layout")).agg(count(lit(1)).as(out))
    import spark.implicits._
    val spine = Seq("1_by_part", "2_arrival").toDF("layout")
    def avg6(pairs: Column, n: Column) =
      round(coalesce(pairs, lit(0L)).cast("double") / n.cast("double"), 6) +
        lit(0.0)
    val out = graft.plans.Eager.ckpt(
      spine.join(cnt(truePairs, "tpairs"), Seq("layout"), "left")
        .join(cnt(zonePairs, "zpairs"), Seq("layout"), "left")
        .join(cnt(bloomPairs, "bpairs"), Seq("layout"), "left")
        .join(cnt(bothPairs, "apairs"), Seq("layout"), "left")
        .crossJoin(broadcast(probes.agg(count(lit(1)).as("n_probes"))))
        .select(col("layout"), lit(64L).as("n_files"), col("n_probes"),
          avg6(col("tpairs"), col("n_probes")).as("avg_files_true"),
          avg6(col("zpairs"), col("n_probes")).as("avg_files_zone"),
          avg6(col("bpairs"), col("n_probes")).as("avg_files_bloom"),
          avg6(col("apairs"), col("n_probes")).as("avg_files_both"))
        .orderBy("layout"))
    fp.unpersist()
    out
  }

  val q363Sql: String = {
    def pos(e: String, j: Int) =
      s"(${md5Hash60Sql(s"CAST($e AS VARCHAR) || '#$j'")}) % 131072"
    s"""WITH li AS (
      |  SELECT CAST(l_partkey AS INTEGER) AS p, l_orderkey, l_linenumber
      |  FROM lineitem),
      |t1 AS (SELECT p,
      |  NTILE(64) OVER (ORDER BY p, l_orderkey, l_linenumber) AS f FROM li),
      |t2 AS (SELECT p,
      |  NTILE(64) OVER (ORDER BY l_orderkey, l_linenumber) AS f FROM li),
      |fp AS MATERIALIZED (
      |  SELECT DISTINCT layout, f, p FROM (
      |    SELECT '1_by_part' AS layout, f, p FROM t1
      |    UNION ALL SELECT '2_arrival', f, p FROM t2)),
      |zm AS MATERIALIZED (
      |  SELECT layout, f, MIN(p) AS min_p, MAX(p) AS max_p
      |  FROM fp GROUP BY layout, f),
      |bits AS MATERIALIZED (
      |  SELECT DISTINCT layout, f, pos FROM (
      |    SELECT layout, f, ${pos("p", 1)} AS pos FROM fp
      |    UNION ALL SELECT layout, f, ${pos("p", 2)} FROM fp
      |    UNION ALL SELECT layout, f, ${pos("p", 3)} FROM fp)),
      |probes AS MATERIALIZED (
      |  SELECT CAST(p_partkey AS INTEGER) AS k FROM part
      |  WHERE p_partkey % 53 = 11),
      |ppos AS (
      |  SELECT k, ${pos("k", 1)} AS pos FROM probes
      |  UNION ALL SELECT k, ${pos("k", 2)} FROM probes
      |  UNION ALL SELECT k, ${pos("k", 3)} FROM probes),
      |bloomp AS MATERIALIZED (
      |  SELECT layout, f, k FROM bits JOIN ppos USING (pos)
      |  GROUP BY layout, f, k HAVING COUNT(*) = 3),
      |zonep AS MATERIALIZED (
      |  SELECT layout, f, k FROM zm JOIN probes
      |  ON min_p <= k AND max_p >= k),
      |truep AS (SELECT layout, f, p AS k FROM fp JOIN probes ON p = k),
      |bothp AS (
      |  SELECT layout, f, k FROM bloomp
      |  INTERSECT SELECT layout, f, k FROM zonep),
      |np AS (SELECT COUNT(*) AS n_probes FROM probes),
      |spine AS (SELECT * FROM (VALUES ('1_by_part'), ('2_arrival'))
      |  AS s(layout)),
      |tc AS (SELECT layout, COUNT(*) AS tpairs FROM truep GROUP BY layout),
      |zc AS (SELECT layout, COUNT(*) AS zpairs FROM zonep GROUP BY layout),
      |bc AS (SELECT layout, COUNT(*) AS bpairs FROM bloomp GROUP BY layout),
      |ac AS (SELECT layout, COUNT(*) AS apairs FROM bothp GROUP BY layout)
      |SELECT spine.layout, CAST(64 AS BIGINT) AS n_files, n_probes,
      |  round(CAST(COALESCE(tpairs, 0) AS DOUBLE)
      |    / CAST(n_probes AS DOUBLE), 6) + 0.0 AS avg_files_true,
      |  round(CAST(COALESCE(zpairs, 0) AS DOUBLE)
      |    / CAST(n_probes AS DOUBLE), 6) + 0.0 AS avg_files_zone,
      |  round(CAST(COALESCE(bpairs, 0) AS DOUBLE)
      |    / CAST(n_probes AS DOUBLE), 6) + 0.0 AS avg_files_bloom,
      |  round(CAST(COALESCE(apairs, 0) AS DOUBLE)
      |    / CAST(n_probes AS DOUBLE), 6) + 0.0 AS avg_files_both
      |FROM spine
      |LEFT JOIN tc ON spine.layout = tc.layout
      |LEFT JOIN zc ON spine.layout = zc.layout
      |LEFT JOIN bc ON spine.layout = bc.layout
      |LEFT JOIN ac ON spine.layout = ac.layout
      |CROSS JOIN np
      |ORDER BY spine.layout""".stripMargin
  }

  // --------------------------------------------------------------- q365
  /** Columnar encoding planner — the page-level storage decision a
    * 100 TB parquet estate rides on, audited per column: for seven
    * lineitem columns, the exact cardinality, the exact RUN count in
    * arrival order (what RLE sees on the table as written), and the
    * run count a re-sort would produce (= cardinality), folded into
    * byte estimates for plain, dictionary (⌈log₂ d⌉ bits/value + the
    * dictionary itself), and RLE encodings, plus the winning encoding
    * for the table as laid out. The q355/q361/q363 family audits WHICH
    * rows a query reads; this audits what each read row COSTS — and
    * quantifies the q355 corollary that sorting is also a compression
    * decision (runs_arrival vs n_distinct is exactly the RLE win a
    * re-sort buys, e.g. return-flag collapses from ~n/. runs to 3).
    *
    * Exactness: ALL-integer — counts, run counts (predecessor
    * comparison), dict bits = length of the binary spelling of d−1
    * (both engines' `bin`), byte formulas are integer arithmetic, and
    * the winner is a deterministic CASE with the documented
    * plain ≺ dict ≺ rle tie order.
    *
    * Scale shape: one [[graft.operators.RangeRank.withGlobalRank]]
    * range shuffle over the fact for arrival positions, one rank
    * self-join (two hash exchanges on the dense rank — linear, never a
    * single-partition window) for the predecessor row, then ONE
    * map-combinable aggregate carrying all seven change-flags; the
    * seven count-distincts ride the same aggregate (Catalyst expands
    * ×7 — linear, shuffle-partitioned by the expand key). Everything
    * downstream operates on a 1-row census checkpointed before the
    * 7-way unpivot. Widths are schema literals; production would read
    * them from the catalog. */
  def q365EncodingPlan(spark: SparkSession, dir: String): DataFrame = {
    val epoch = lit(java.sql.Date.valueOf("1992-01-01"))
    val li = Kpis.table(spark, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_returnflag").as("v_rf"),
      col("l_linestatus").as("v_ls"),
      round(col("l_discount") * 100).cast("long").as("v_dc"),
      datediff(col("l_shipdate"), epoch).cast("long").as("v_sd"),
      col("l_partkey").cast("long").as("v_pk"),
      col("l_quantity").cast("long").as("v_qt"),
      round(col("l_extendedprice") * 100).cast("long").as("v_ep"))
    val keys = Seq("rf", "ls", "dc", "sd", "pk", "qt", "ep")
    val ranked = graft.operators.RangeRank.withGlobalRank(li, "rk",
      Seq(col("l_orderkey"), col("l_linenumber")))
    val prev = ranked.select((col("rk") + 1L).as("rk") +:
      keys.map(k => col(s"v_$k").as(s"p_$k")): _*)
    val chg = ranked.join(prev, Seq("rk"), "left")
    val aggs =
      keys.map(k => countDistinct(col(s"v_$k")).as(s"nd_$k")) ++
      keys.map(k => sum(when(col(s"p_$k").isNull ||
        col(s"v_$k") =!= col(s"p_$k"), 1L).otherwise(0L)).as(s"runs_$k"))
    val census = graft.plans.Eager.ckpt(
      chg.agg(count(lit(1)).as("n_rows"), aggs: _*))
    val cols7 = Seq(("l_extendedprice", "ep", 8L), ("l_linestatus", "ls", 1L),
      ("l_partkey", "pk", 4L), ("l_quantity", "qt", 4L),
      ("l_returnflag", "rf", 1L), ("l_shipdate", "sd", 4L),
      ("l_discount", "dc", 4L))
    val stacked = cols7.map { case (name, k, w) =>
      census.select(lit(name).as("column_name"), col("n_rows"),
        col(s"nd_$k").as("n_distinct"),
        col(s"runs_$k").as("runs_arrival"), lit(w).as("width_bytes"))
    }.reduce(_ unionAll _)
    val bits = when(col("n_distinct") <= 1L, lit(0L))
      .otherwise(length(bin(col("n_distinct") - 1L)).cast("long"))
    stacked.withColumn("dict_bits", bits)
      .withColumn("bytes_plain", col("n_rows") * col("width_bytes"))
      .withColumn("bytes_dict",
        expr("(n_rows * dict_bits + 7) div 8") +
          col("n_distinct") * col("width_bytes"))
      .withColumn("bytes_rle_arrival",
        col("runs_arrival") * (col("width_bytes") + 4L))
      .withColumn("bytes_rle_sorted",
        col("n_distinct") * (col("width_bytes") + 4L))
      .withColumn("best_encoding",
        when(col("bytes_plain") <= col("bytes_dict") &&
          col("bytes_plain") <= col("bytes_rle_arrival"), lit("plain"))
          .when(col("bytes_dict") <= col("bytes_rle_arrival"), lit("dict"))
          .otherwise(lit("rle")))
      .select(col("column_name"), col("n_rows"), col("n_distinct"),
        col("dict_bits"), col("runs_arrival"), col("bytes_plain"),
        col("bytes_dict"), col("bytes_rle_arrival"),
        col("bytes_rle_sorted"), col("best_encoding"))
      .orderBy("column_name")
  }

  val q365Sql: String = {
    val keys = Seq("rf", "ls", "dc", "sd", "pk", "qt", "ep")
    val lags = keys.map(k => s"LAG(v_$k) OVER o AS p_$k").mkString(",\n      |    ")
    val nds = keys.map(k => s"COUNT(DISTINCT v_$k) AS nd_$k")
      .mkString(",\n      |    ")
    val runs = keys.map(k =>
      s"CAST(SUM(CASE WHEN p_$k IS NULL OR v_$k <> p_$k THEN 1 ELSE 0 END) AS BIGINT) AS runs_$k")
      .mkString(",\n      |    ")
    val cols7 = Seq(("l_extendedprice", "ep", 8), ("l_linestatus", "ls", 1),
      ("l_partkey", "pk", 4), ("l_quantity", "qt", 4),
      ("l_returnflag", "rf", 1), ("l_shipdate", "sd", 4),
      ("l_discount", "dc", 4))
    val unpivot = cols7.map { case (name, k, w) =>
      s"SELECT '$name' AS column_name, n_rows, nd_$k AS n_distinct, " +
        s"runs_$k AS runs_arrival, CAST($w AS BIGINT) AS width_bytes FROM census"
    }.mkString("\n      |  UNION ALL ")
    s"""WITH li AS (
      |  SELECT l_orderkey, l_linenumber,
      |    l_returnflag AS v_rf, l_linestatus AS v_ls,
      |    CAST(round(l_discount * 100) AS BIGINT) AS v_dc,
      |    CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS BIGINT)
      |      AS v_sd,
      |    CAST(l_partkey AS BIGINT) AS v_pk,
      |    CAST(l_quantity AS BIGINT) AS v_qt,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v_ep
      |  FROM lineitem),
      |w AS (
      |  SELECT *,
      |    $lags
      |  FROM li WINDOW o AS (ORDER BY l_orderkey, l_linenumber)),
      |census AS (
      |  SELECT COUNT(*) AS n_rows,
      |    $nds,
      |    $runs
      |  FROM w),
      |cols AS (
      |  $unpivot),
      |m AS (
      |  SELECT *,
      |    CASE WHEN n_distinct <= 1 THEN 0
      |         ELSE CAST(length(bin(n_distinct - 1)) AS BIGINT)
      |    END AS dict_bits
      |  FROM cols),
      |b AS (
      |  SELECT column_name, n_rows, n_distinct, dict_bits, runs_arrival,
      |    n_rows * width_bytes AS bytes_plain,
      |    (n_rows * dict_bits + 7) // 8 + n_distinct * width_bytes
      |      AS bytes_dict,
      |    runs_arrival * (width_bytes + 4) AS bytes_rle_arrival,
      |    n_distinct * (width_bytes + 4) AS bytes_rle_sorted
      |  FROM m)
      |SELECT column_name, n_rows, n_distinct, dict_bits, runs_arrival,
      |  bytes_plain, bytes_dict, bytes_rle_arrival, bytes_rle_sorted,
      |  CASE WHEN bytes_plain <= bytes_dict
      |         AND bytes_plain <= bytes_rle_arrival THEN 'plain'
      |       WHEN bytes_dict <= bytes_rle_arrival THEN 'dict'
      |       ELSE 'rle' END AS best_encoding
      |FROM b ORDER BY column_name""".stripMargin
  }

  // --------------------------------------------------------------- q376
  /** Physical sortedness audit — Spearman ρ between ARRIVAL position
    * and value rank, per candidate sort column: the single number that
    * says how close the table already is to each sort order (ρ ≈ 1
    * means writes arrive nearly ordered and a re-sort is cheap noise;
    * ρ ≈ 0 means q355's layout win requires a full shuffle; negative ρ
    * means reverse-ordered arrival). Complements q361 (which prices
    * drift AFTER choosing a layout) and q365 (which prices encodings
    * GIVEN the layout) with the pre-decision diagnostic: which
    * candidate columns the data is already clustered by.
    *
    * Exactness: both ranks are exact integers (value ties broken by
    * arrival rank — the "as laid out" convention, deterministic in
    * both engines); Σd² accumulates in DECIMAL(38,0) (n·n² overflows
    * BIGINT past ~10⁶ rows); ρ = 1 − 6Σd²/(n³−n) is one double chain
    * snapped at 6 dp; the verdict is a deterministic CASE.
    *
    * Scale shape: one [[graft.operators.RangeRank.withGlobalRank]]
    * range shuffle for the arrival rank, then ONE more per audited
    * column — the value rank is computed over (value, arrival rank)
    * carrying the arrival rank along, so Σd² is a map-combinable agg
    * with NO join anywhere. Four columns = five linear passes. */
  def q376SortednessAudit(spark: SparkSession, dir: String): DataFrame = {
    val epoch = lit(java.sql.Date.valueOf("1992-01-01"))
    val li = Kpis.table(spark, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      datediff(col("l_shipdate"), epoch).cast("long").as("v_sd"),
      col("l_partkey").cast("long").as("v_pk"),
      col("l_quantity").cast("long").as("v_qt"),
      round(col("l_extendedprice") * 100).cast("long").as("v_ep"))
    val ra = graft.operators.RangeRank.withGlobalRank(li, "ra",
      Seq(col("l_orderkey"), col("l_linenumber")))
      .select(col("ra"), col("v_sd"), col("v_pk"), col("v_qt"),
        col("v_ep"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def rhoOf(name: String, v: String) =
      graft.operators.RangeRank.withGlobalRank(ra, "rv",
        Seq(col(v), col("ra")))
        .select(((col("rv") - col("ra")) * (col("rv") - col("ra")))
          .cast("decimal(38,0)").as("d2"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("d2")).as("sum_d2"))
        .select(lit(name).as("column_name"), col("n_rows"),
          (round(lit(1.0) - lit(6.0) * col("sum_d2").cast("double") /
            (col("n_rows").cast("double") * col("n_rows").cast("double") *
              col("n_rows").cast("double") - col("n_rows").cast("double")),
            6) + lit(0.0)).as("spearman_rho"))
    val out = graft.plans.Eager.ckpt(
      rhoOf("l_extendedprice", "v_ep")
        .unionAll(rhoOf("l_partkey", "v_pk"))
        .unionAll(rhoOf("l_quantity", "v_qt"))
        .unionAll(rhoOf("l_shipdate", "v_sd"))
        .withColumn("verdict",
          when(abs(col("spearman_rho")) > 0.95, lit("sorted"))
            .when(abs(col("spearman_rho")) > 0.5, lit("clustered"))
            .otherwise(lit("shuffled")))
        .orderBy("column_name"))
    ra.unpersist()
    out
  }

  val q376Sql: String = {
    def one(name: String, v: String) =
      s"""SELECT '$name' AS column_name, COUNT(*) AS n_rows,
        |  round(1.0 - 6.0 * CAST(SUM(d2) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
        |       * CAST(COUNT(*) AS DOUBLE) - CAST(COUNT(*) AS DOUBLE)),
        |    6) + 0.0 AS spearman_rho
        |FROM (
        |  SELECT CAST((rv - ra) * (rv - ra) AS DECIMAL(38,0)) AS d2
        |  FROM (SELECT ra,
        |          ROW_NUMBER() OVER (ORDER BY $v, ra) AS rv
        |        FROM base))""".stripMargin
    s"""WITH li AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS BIGINT)
      |      AS v_sd,
      |    CAST(l_partkey AS BIGINT) AS v_pk,
      |    CAST(l_quantity AS BIGINT) AS v_qt,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v_ep
      |  FROM lineitem),
      |base AS MATERIALIZED (
      |  SELECT v_sd, v_pk, v_qt, v_ep,
      |    ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS ra
      |  FROM li),
      |u AS (
      |  ${one("l_extendedprice", "v_ep")}
      |  UNION ALL ${one("l_partkey", "v_pk")}
      |  UNION ALL ${one("l_quantity", "v_qt")}
      |  UNION ALL ${one("l_shipdate", "v_sd")})
      |SELECT column_name, n_rows, spearman_rho,
      |  CASE WHEN abs(spearman_rho) > 0.95 THEN 'sorted'
      |       WHEN abs(spearman_rho) > 0.5 THEN 'clustered'
      |       ELSE 'shuffled' END AS verdict
      |FROM u ORDER BY column_name""".stripMargin
  }

  // --------------------------------------------------------------- q383
  /** Cache sizing from access skew — the hit-rate curve that decides
    * how much of a hot dimension to pin (broadcast slice, block cache,
    * or executor-side map): rank part keys by access frequency in the
    * fact, take exact prefix mass, and report the request hit share a
    * cache holding the hottest {1, 5, 10, 25}% of keys would serve.
    * Zipfian access makes small caches disproportionately effective;
    * uniform access makes caching pointless — this emits the measured
    * curve (plus the top-1-key share as the skew headline), turning
    * the q63-salting / broadcast-threshold discussions into numbers.
    *
    * Exactness: access counts, frequency ranks (ties break on key),
    * prefix sums, and cut ranks ⌈f·K⌉ are ALL integer; hit shares are
    * single divisions snapped at 6 dp.
    *
    * Scale shape: one map-combinable per-key census off the fact, one
    * [[graft.operators.RangeRank.withRunningSum]] range shuffle over
    * the census (key-domain-bounded, never the fact), and a 4-row
    * broadcast threshold join. */
  def q383CacheHitCurve(spark: SparkSession, dir: String): DataFrame = {
    val pcts = Seq(1L, 5L, 10L, 25L)
    val census = Kpis.table(spark, dir, "lineitem")
      .groupBy(col("l_partkey").as("k"))
      .agg(count(lit(1)).as("c"))
    val ranked = graft.operators.RangeRank.withRunningSum(
      census, col("c"), "cum", Seq(col("c") * -1L, col("k")))
    val ranks = graft.operators.RangeRank.withGlobalRank(
      ranked, "rk", Seq(col("c") * -1L, col("k")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = broadcast(ranks.agg(count(lit(1)).as("n_keys"),
      sum(col("c")).as("n_accesses"),
      max(when(col("rk") === 1L, col("c"))).as("top1")))
    val curve = ranks.crossJoin(tot)
      .crossJoin(broadcast(
        spark.range(0, pcts.length).select(col("id"))
          .withColumn("pct", element_at(
            typedLit(pcts), col("id").cast("int") + 1))))
      .filter(col("rk") === expr("(pct * n_keys + 99) div 100"))
      .select(col("pct"), col("rk").as("cache_keys"), col("cum"),
        col("n_keys"), col("n_accesses"), col("top1"))
    val out = graft.plans.Eager.ckpt(
      curve.select(col("pct").as("cache_pct"), col("cache_keys"),
        col("n_keys"), col("n_accesses"),
        (round(col("cum").cast("double") /
          col("n_accesses").cast("double"), 6) + lit(0.0))
          .as("hit_share"),
        (round(col("top1").cast("double") /
          col("n_accesses").cast("double"), 6) + lit(0.0))
          .as("top1_share"))
        .orderBy("cache_pct"))
    ranks.unpersist()
    out
  }

  val q383Sql: String =
    """WITH census AS (
      |  SELECT l_partkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1),
      |r AS (
      |  SELECT *,
      |    ROW_NUMBER() OVER (ORDER BY c DESC, k) AS rk,
      |    SUM(c) OVER (ORDER BY c DESC, k
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM census),
      |tot AS (
      |  SELECT COUNT(*) AS n_keys, CAST(SUM(c) AS BIGINT) AS n_accesses,
      |    CAST(MAX(CASE WHEN rk = 1 THEN c END) AS BIGINT) AS top1
      |  FROM r),
      |pcts AS (SELECT unnest([1, 5, 10, 25]) AS pct)
      |SELECT CAST(pct AS BIGINT) AS cache_pct,
      |  rk AS cache_keys, n_keys, n_accesses,
      |  round(CAST(cum AS DOUBLE) / CAST(n_accesses AS DOUBLE), 6) + 0.0
      |    AS hit_share,
      |  round(CAST(top1 AS DOUBLE) / CAST(n_accesses AS DOUBLE), 6) + 0.0
      |    AS top1_share
      |FROM r, tot, pcts
      |WHERE rk = (pct * n_keys + 99) // 100
      |ORDER BY cache_pct""".stripMargin

  // --------------------------------------------------------------- q385
  /** Bucket-count skew advisor for the written warehouse — the sizing
    * study behind [[graft.sink.Warehouse]]'s bucketed writes and the
    * q358/q98 bucketed stores: for candidate bucket counts
    * {8, 16, 32, 64}, hash customer keys by order volume onto the md5
    * grid and report each layout's max-bucket share vs the uniform
    * ideal (the straggler factor a bucketed join inherits) and the
    * empty-bucket count (wasted task slots). More buckets cut skew
    * until key cardinality runs out; this emits the measured curve so
    * the bucket count is chosen from data, not habit.
    *
    * Exactness: bucket assignment is the replayable md5 grid; all
    * counts are integer; shares and the straggler factor are single
    * divisions snapped at 6 dp.
    *
    * Scale shape: one per-key order-volume census, then ONE
    * map-combinable (n_buckets, bucket) aggregate per candidate off
    * the SAME census (a 4-way unpivot of bucket ids computed in one
    * projection — no re-scan), all census-bounded. */
  def q385BucketSkewAdvisor(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5Hash60
    val cands = Seq(8, 16, 32, 64)
    val census = Kpis.table(spark, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
      .withColumn("h", md5Hash60(concat(lit("bkt:"),
        col("o_custkey").cast("string"))))
    val perBucket = cands.map { nb =>
      census.select(lit(nb.toLong).as("n_buckets"),
        pmod(col("h"), lit(nb.toLong)).as("b"), col("c"))
    }.reduce(_ unionAll _)
      .groupBy(col("n_buckets"), col("b"))
      .agg(sum(col("c")).as("rows_in_bucket"))
    perBucket.groupBy(col("n_buckets"))
      .agg(count(lit(1)).as("buckets_used"),
        sum(col("rows_in_bucket")).as("n_rows"),
        max(col("rows_in_bucket")).as("max_bucket_rows"))
      .select(col("n_buckets"),
        (col("n_buckets") - col("buckets_used")).as("empty_buckets"),
        col("max_bucket_rows"),
        (round(col("max_bucket_rows").cast("double") /
          col("n_rows").cast("double"), 6) + lit(0.0))
          .as("max_bucket_share"),
        (round(col("max_bucket_rows").cast("double") *
          col("n_buckets").cast("double") /
          col("n_rows").cast("double"), 6) + lit(0.0))
          .as("straggler_factor"))
      .orderBy("n_buckets")
  }

  val q385Sql: String = {
    val h = md5Hash60Sql("'bkt:' || CAST(o_custkey AS VARCHAR)")
    s"""WITH census AS (
      |  SELECT o_custkey, COUNT(*) AS c, ($h) AS h
      |  FROM orders GROUP BY 1),
      |per AS (
      |  SELECT nb.n_buckets, census.h % nb.n_buckets AS b,
      |    CAST(SUM(c) AS BIGINT) AS rows_in_bucket
      |  FROM census
      |  CROSS JOIN (VALUES (8), (16), (32), (64)) nb(n_buckets)
      |  GROUP BY 1, 2)
      |SELECT CAST(n_buckets AS BIGINT) AS n_buckets,
      |  CAST(n_buckets - COUNT(*) AS BIGINT) AS empty_buckets,
      |  MAX(rows_in_bucket) AS max_bucket_rows,
      |  round(CAST(MAX(rows_in_bucket) AS DOUBLE)
      |    / CAST(SUM(rows_in_bucket) AS DOUBLE), 6) + 0.0
      |    AS max_bucket_share,
      |  round(CAST(MAX(rows_in_bucket) AS DOUBLE)
      |    * CAST(n_buckets AS DOUBLE)
      |    / CAST(SUM(rows_in_bucket) AS DOUBLE), 6) + 0.0
      |    AS straggler_factor
      |FROM per GROUP BY n_buckets ORDER BY n_buckets""".stripMargin
  }

  // --------------------------------------------------------------- q415
  /** Bucket-resize (graceful doubling) plan — WHAT a repartition of the
    * bucketed warehouse actually moves: growing a hash-mod layout from
    * 16 buckets to target t rewrites every row whose h mod t differs
    * from h mod 16, and the movement share is a pure number-theory
    * fact of (16, t) — stay share = |{r < lcm : r mod 16 = r mod t}| /
    * lcm, i.e. 1/17 for t = 17, 1/3 for t = 24, and exactly 1/2 for
    * the power-of-two double t = 32, where additionally every key
    * either STAYS at b or moves to b + 16 (the split property that
    * lets a doubling run bucket-by-bucket with no global shuffle).
    * Per target: measured moved share on the real key hash, the exact
    * uniform-hash theory, their gap (a hash-uniformity audit for
    * free), and the split-property compliance share (1.0 at t = 32 by
    * construction, reported as measured proof). The q297 HRW audit
    * shows WHICH scheme to use against arbitrary resizes; this table
    * says that if mod-bucketing stays (as warehouse layouts S8 uses
    * do), resizes should be doublings — and prices the alternatives.
    *
    * Exactness: indicator sums over the md5Hash60 parity hash; theory
    * shares are exact literals; each share is ONE 6-dp-snapped
    * division.
    *
    * Scale shape: ONE map-combinable aggregate over the fact scan
    * carrying all three targets' indicators (no shuffle beyond the
    * 1-row final), then a 3-row stack. */
  def q415BucketResize(spark: SparkSession, dir: String): DataFrame = {
    val targets = Seq(17L, 24L, 32L)
    // stay share = |{r < lcm(16,t) : r%16 = r%t}| / lcm — for t > 16
    // the matches are exactly r in [0, 16), so stay = 16/lcm(16, t)
    def lcm(a: Long, b: Long): Long = {
      @annotation.tailrec
      def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
      a / gcd(a, b) * b
    }
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(md5Hash60(col("l_orderkey").cast("string")).as("h"))
    val exprs = Seq(count(lit(1)).as("n")) ++
      targets.flatMap(t => Seq(
        sum(when(pmod(col("h"), lit(16L)) =!= pmod(col("h"), lit(t)), 1L)
          .otherwise(0L)).as(s"mv_$t"),
        sum(when(pmod(pmod(col("h"), lit(t)), lit(16L)) ===
          pmod(col("h"), lit(16L)), 1L).otherwise(0L)).as(s"sp_$t")))
    val a = li.agg(exprs.head, exprs.tail: _*)
    a.select(col("n"), expr(s"stack(${targets.length}, " +
        targets.map(t => s"${t}L, mv_$t, sp_$t, " +
          s"${1.0 - 16.0 / lcm(16L, t)}D").mkString(", ") +
        ") as (target_buckets, moved, split_ok, theory_moved)"))
      .select(col("target_buckets"), col("n").as("n_rows"), col("moved"),
        r6(col("moved").cast("double") / col("n").cast("double"))
          .as("moved_share"),
        r6(col("theory_moved")).as("theory_moved"),
        r6(abs(col("moved").cast("double") / col("n").cast("double")
          - col("theory_moved"))).as("uniformity_gap"),
        r6(col("split_ok").cast("double") / col("n").cast("double"))
          .as("split_property_share"))
      .orderBy("target_buckets")
  }

  val q415Sql: String = {
    val h = md5Hash60Sql("CAST(l_orderkey AS VARCHAR)")
    """WITH li AS (SELECT (HASHEXPR) AS h FROM lineitem),
      |t(target_buckets, theory_moved) AS (VALUES
      |  (CAST(17 AS BIGINT), 1.0 - 16.0 / 272.0),
      |  (24, 1.0 - 16.0 / 48.0),
      |  (32, 1.0 - 16.0 / 32.0)),
      |per AS (
      |  SELECT target_buckets, theory_moved, COUNT(*) AS n_rows,
      |    CAST(SUM(CASE WHEN h % 16 <> h % target_buckets
      |      THEN 1 ELSE 0 END) AS BIGINT) AS moved,
      |    CAST(SUM(CASE WHEN (h % target_buckets) % 16 = h % 16
      |      THEN 1 ELSE 0 END) AS BIGINT) AS split_ok
      |  FROM li CROSS JOIN t GROUP BY 1, 2)
      |SELECT target_buckets, n_rows, moved,
      |  round(CAST(moved AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) + 0.0
      |    AS moved_share,
      |  round(theory_moved, 6) + 0.0 AS theory_moved,
      |  round(abs(CAST(moved AS DOUBLE) / CAST(n_rows AS DOUBLE)
      |    - theory_moved), 6) + 0.0 AS uniformity_gap,
      |  round(CAST(split_ok AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
      |    + 0.0 AS split_property_share
      |FROM per ORDER BY target_buckets""".stripMargin
      .replace("(HASHEXPR)", s"($h)")
  }

  // --------------------------------------------------------------- q420
  /** Broadcast-join size ledger — the planning fact behind every forced
    * or withheld broadcast() in this library, measured instead of
    * assumed: for the five dimension tables, exact row counts and an
    * exact in-memory byte estimate (fixed column widths + measured
    * string bytes), the verdict against the classic 10 MiB
    * auto-broadcast threshold, and — the column that matters at
    * 100 TB — the same verdict at 1000× scale, where TPC-H's scaling
    * dims (customer, supplier, part) leave broadcast range while the
    * FIXED-cardinality dims (region, nation) stay broadcastable
    * forever. This table is why q8/q67 broadcast nation/region freely
    * while q2/q9 leave customer/supplier join strategy to AQE (the
    * per-query Scaladocs cite the convention; this is its ledger).
    *
    * Exactness: counts and byte sums are exact integers (8 B for
    * 64-bit/double columns, 4 B for ints/dates, string bytes measured
    * by length over the ASCII fixture); shares/averages are single
    * 6-dp-snapped divisions; the 1000× projection is integer
    * multiplication gated by the public TPC-H scaling rule.
    *
    * Scale shape: one map-combinable aggregate per dimension table
    * (the tables being audited are by definition the small ones),
    * 5-row union. Fact tables are excluded on purpose — nobody
    * broadcasts a fact. */
  def q420BroadcastLedger(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val threshold = 10L * 1024 * 1024
    // region (5 rows) and nation (25) are FIXED at every TPC-H scale
    // factor; customer/supplier/part grow linearly with SF
    val tables = Seq(("region", false), ("nation", false),
      ("supplier", true), ("customer", true), ("part", true))
    def one(name: String, scales: Boolean): DataFrame = {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      val perRow: Column = df.schema.fields.map { f =>
        f.dataType match {
          case StringType => length(col(f.name)).cast("long") + lit(4L)
          case IntegerType | DateType => lit(4L)
          case _ => lit(8L) // long / double / timestamp / decimal word
        }
      }.reduce(_ + _)
      df.agg(count(lit(1)).as("n_rows"), sum(perRow).as("est_bytes"))
        .select(lit(name).as("table_name"), col("n_rows"),
          col("est_bytes"), lit(scales).as("scales_with_sf"))
    }
    val base = tables.map { case (t, s) => one(t, s) }.reduce(_ unionAll _)
    base.select(col("table_name"), col("n_rows"), col("est_bytes"),
        r6(col("est_bytes").cast("double") / col("n_rows").cast("double"))
          .as("bytes_per_row"),
        (col("est_bytes") <= threshold).as("broadcast_ok"),
        col("scales_with_sf"),
        when(col("scales_with_sf"), col("est_bytes") * 1000L)
          .otherwise(col("est_bytes")).as("est_bytes_1000x"),
        (when(col("scales_with_sf"), col("est_bytes") * 1000L)
          .otherwise(col("est_bytes")) <= threshold)
          .as("broadcast_ok_1000x"))
      .orderBy("table_name")
  }

  val q420Sql: String =
    """WITH per AS (
      |  SELECT 'region' AS table_name, COUNT(*) AS n_rows,
      |    CAST(SUM(4 + length(r_name) + 4) AS BIGINT) AS est_bytes,
      |    FALSE AS scales_with_sf
      |  FROM region
      |  UNION ALL
      |  SELECT 'nation', COUNT(*),
      |    CAST(SUM(4 + length(n_name) + 4 + 4) AS BIGINT), FALSE
      |  FROM nation
      |  UNION ALL
      |  SELECT 'supplier', COUNT(*),
      |    CAST(SUM(8 + length(s_name) + 4 + 4 + 8) AS BIGINT), TRUE
      |  FROM supplier
      |  UNION ALL
      |  SELECT 'customer', COUNT(*),
      |    CAST(SUM(8 + length(c_name) + 4 + 4 + 8
      |      + length(c_mktsegment) + 4) AS BIGINT), TRUE
      |  FROM customer
      |  UNION ALL
      |  SELECT 'part', COUNT(*),
      |    CAST(SUM(8 + length(p_name) + 4 + length(p_brand) + 4
      |      + length(p_type) + 4 + 4 + 8) AS BIGINT), TRUE
      |  FROM part)
      |SELECT table_name, n_rows, est_bytes,
      |  round(CAST(est_bytes AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
      |    + 0.0 AS bytes_per_row,
      |  est_bytes <= 10485760 AS broadcast_ok,
      |  scales_with_sf,
      |  CASE WHEN scales_with_sf THEN est_bytes * 1000
      |       ELSE est_bytes END AS est_bytes_1000x,
      |  (CASE WHEN scales_with_sf THEN est_bytes * 1000
      |        ELSE est_bytes END) <= 10485760 AS broadcast_ok_1000x
      |FROM per ORDER BY table_name""".stripMargin

  // --------------------------------------------------------------- q426
  /** Projection-pruning payoff ledger — "a scan that reads all columns
    * for a 4-column projection is wrong", quantified: the exact
    * in-memory byte mass of every lineitem column (fixed widths +
    * measured string bytes, the q420 estimator), rolled up into the
    * bytes a columnar scan actually touches for four representative
    * registered access patterns (q1's revenue-by-day projection, q7's
    * pricing summary, q12's distinct-parts profile, and the full-width
    * SELECT *) vs the full row. The saving column is the ReadSchema
    * discipline's measured value — at 100 TB it is the difference
    * between scanning 100 TB and scanning the ~30 TB the query needs
    * (column shares are scale-invariant: every column grows with the
    * same row count).
    *
    * Exactness: per-column byte sums are exact integers; shares are
    * single 6-dp-snapped divisions.
    *
    * Scale shape: ONE map-combinable aggregate over lineitem carrying
    * all 11 column byte sums, then a 4-row stack. */
  def q426ProjectionLedger(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    def width(f: org.apache.spark.sql.types.StructField): Column =
      f.dataType match {
        case StringType => length(col(f.name)).cast("long") + lit(4L)
        case IntegerType | DateType => lit(4L)
        case _ => lit(8L)
      }
    val fields = li.schema.fields.toSeq
    val exprs = Seq(count(lit(1)).as("n")) ++
      fields.map(f => sum(width(f)).as(s"b_${f.name}"))
    val a = li.agg(exprs.head, exprs.tail: _*)
    val classes: Seq[(String, Seq[String])] = Seq(
      ("q1_daily_revenue", Seq("l_shipdate", "l_extendedprice",
        "l_discount", "l_quantity")),
      ("q7_pricing_summary", Seq("l_returnflag", "l_linestatus",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_shipdate")),
      ("q12_distinct_parts", Seq("l_returnflag", "l_partkey",
        "l_suppkey", "l_orderkey")),
      ("select_star", fields.map(_.name)))
    val full = fields.map(f => s"b_${f.name}").mkString(" + ")
    a.select(col("n"), expr(s"($full)").as("bytes_full"), expr(
        s"stack(${classes.length}, " + classes.map { case (nm, cs) =>
          s"'$nm', ${cs.size}L, (${cs.map(c => s"b_$c").mkString(" + ")})"
        }.mkString(", ") +
        ") as (access_pattern, n_cols, bytes_read)"))
      .select(col("access_pattern"), col("n").as("n_rows"),
        col("n_cols"), col("bytes_read"), col("bytes_full"),
        r6(col("bytes_read").cast("double") /
          col("bytes_full").cast("double")).as("read_share"),
        r6(lit(1.0) - col("bytes_read").cast("double") /
          col("bytes_full").cast("double")).as("saving_share"))
      .orderBy("access_pattern")
  }

  val q426Sql: String =
    """WITH a AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(8) AS BIGINT) AS b_l_orderkey,
      |    CAST(SUM(8) AS BIGINT) AS b_l_partkey,
      |    CAST(SUM(8) AS BIGINT) AS b_l_suppkey,
      |    CAST(SUM(4) AS BIGINT) AS b_l_linenumber,
      |    CAST(SUM(8) AS BIGINT) AS b_l_quantity,
      |    CAST(SUM(8) AS BIGINT) AS b_l_extendedprice,
      |    CAST(SUM(8) AS BIGINT) AS b_l_discount,
      |    CAST(SUM(8) AS BIGINT) AS b_l_tax,
      |    CAST(SUM(length(l_returnflag) + 4) AS BIGINT)
      |      AS b_l_returnflag,
      |    CAST(SUM(length(l_linestatus) + 4) AS BIGINT)
      |      AS b_l_linestatus,
      |    CAST(SUM(8) AS BIGINT) AS b_l_shipdate
      |  FROM lineitem),
      |s AS (
      |  SELECT n, access_pattern, n_cols, bytes_read,
      |    b_l_orderkey + b_l_partkey + b_l_suppkey + b_l_linenumber
      |      + b_l_quantity + b_l_extendedprice + b_l_discount + b_l_tax
      |      + b_l_returnflag + b_l_linestatus + b_l_shipdate
      |      AS bytes_full
      |  FROM a, LATERAL (VALUES
      |    ('q1_daily_revenue', CAST(4 AS BIGINT),
      |      b_l_shipdate + b_l_extendedprice + b_l_discount
      |        + b_l_quantity),
      |    ('q7_pricing_summary', 7,
      |      b_l_returnflag + b_l_linestatus + b_l_quantity
      |        + b_l_extendedprice + b_l_discount + b_l_tax
      |        + b_l_shipdate),
      |    ('q12_distinct_parts', 4,
      |      b_l_returnflag + b_l_partkey + b_l_suppkey + b_l_orderkey),
      |    ('select_star', 11,
      |      b_l_orderkey + b_l_partkey + b_l_suppkey + b_l_linenumber
      |        + b_l_quantity + b_l_extendedprice + b_l_discount
      |        + b_l_tax + b_l_returnflag + b_l_linestatus
      |        + b_l_shipdate))
      |    AS v(access_pattern, n_cols, bytes_read))
      |SELECT access_pattern, n AS n_rows, n_cols, bytes_read, bytes_full,
      |  round(CAST(bytes_read AS DOUBLE) / CAST(bytes_full AS DOUBLE), 6)
      |    + 0.0 AS read_share,
      |  round(1.0 - CAST(bytes_read AS DOUBLE)
      |    / CAST(bytes_full AS DOUBLE), 6) + 0.0 AS saving_share
      |FROM s ORDER BY access_pattern""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q426_projection_ledger", q426ProjectionLedger _, q426Sql),
    Query("q420_broadcast_ledger", q420BroadcastLedger _, q420Sql),
    Query("q415_bucket_resize", q415BucketResize _, q415Sql),
    Query("q385_bucket_skew_advisor", q385BucketSkewAdvisor _, q385Sql),
    Query("q383_cache_hit_curve", q383CacheHitCurve _, q383Sql),
    Query("q376_sortedness_audit", q376SortednessAudit _, q376Sql),
    Query("q365_encoding_plan", q365EncodingPlan _, q365Sql),
    Query("q297_shard_stability", q297ShardStability _, q297Sql),
    Query("q355_zorder_skip", q355ZorderSkip _, q355Sql),
    Query("q359_compaction_plan", q359CompactionPlan _, q359Sql),
    Query("q361_layout_drift", q361LayoutDrift _, q361Sql),
    Query("q363_bloom_skip", q363BloomSkip _, q363Sql))
}
