package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.TextFunctions._
import graft.operators.{BandStore, IncrementalDedup}
import graft.sink.Warehouse

/** Round-9 widening: the TPC-H Q18 shape (q95), URL/host normalization
  * stats (q96), the vocabulary-coverage curve (q97), incremental
  * NEAR-dup flagging against a persisted MinHash band store (q98 — the
  * near-dup twin of [[IncrementalDedup]]'s exact q94), and the TPC-H Q7
  * nation-pair volume shape (q100).
  */
object Round9Queries {

  // ---------------------------------------------------------------- q95
  /** TPC-H Q18 shape (large-volume customers): orders whose total line
    * quantity exceeds 200, with the customer, top-100 by order value.
    *
    * Scale shape: the quantity rollup is a map-side-combinable hash agg
    * on l_orderkey (lineitem's natural clustering); its HAVING filter
    * prunes to a tiny order set BEFORE any join; the two joins then hash
    * on keys the planner can broadcast-or-shuffle by size; top-100 lowers
    * to TakeOrderedAndProject. Quantities sum as DECIMAL(18,4) (exact),
    * cast double at output (the money convention). */
  def q95BigOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Kpis.table(spark, dir, "lineitem")
      .select(col("l_orderkey"),
        col("l_quantity").cast("decimal(18,4)").as("q"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("q")).as("sq"))
      .filter(col("sq") > 200)
    Kpis.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderdate"))
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Kpis.table(spark, dir, "customer")
        .select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
        col("o_totalprice"), col("sq").cast("double").as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  val q95Sql: String =
    """WITH big AS (
      |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sq
      |  FROM lineitem GROUP BY 1
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 200)
      |SELECT c_custkey, c_name, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS odate,
      |  o_totalprice, CAST(sq AS DOUBLE) AS sum_qty
      |FROM orders
      |JOIN big ON o_orderkey = l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- q96
  /** URL normalization + host-level rollup — the per-domain accounting
    * every web-corpus curation pass runs (domain quotas, robots policy
    * buckets, host skew). The fixture's `source` is not a URL, so the
    * query first derives one deterministically (source × a doc-keyed
    * TLD), then does what production does: EXTRACT the host back out of
    * the raw URL (certifying the regex cross-engine) and aggregate per
    * host. Share-of-corpus is exact long division at the end.
    *
    * Scale shape: pure per-row regex + one map-side-combinable agg; the
    * 1-row total is the only broadcast. */
  def q96HostStats(spark: SparkSession, dir: String): DataFrame = {
    val tld = element_at(array(lit("com"), lit("org"), lit("net")),
      (col("doc_id") % 3).cast("int") + 1)
    val d = Kpis.table(spark, dir, "documents")
      .withColumn("url",
        concat(lit("https://"), col("source"), lit(".example."), tld,
          lit("/d/"), col("doc_id").cast("string")))
      .withColumn("host", regexp_extract(col("url"), "^https://([^/]+)/", 1))
    val hosts = d.groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("total_chars"))
    val tot = hosts.agg(sum(col("n_docs")).as("total"))
    hosts.crossJoin(broadcast(tot))
      .select(col("host"), col("n_docs"), col("total_chars"),
        (col("n_docs").cast("double") / col("total").cast("double"))
          .as("share"))
      .orderBy("host")
  }

  val q96Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text,
      |    'https://' || source || '.example.' ||
      |      (['com', 'org', 'net'])[CAST(doc_id % 3 AS INTEGER) + 1] ||
      |      '/d/' || CAST(doc_id AS VARCHAR) AS url
      |  FROM documents),
      |h AS (
      |  SELECT regexp_extract(url, '^https://([^/]+)/', 1) AS host, text
      |  FROM d),
      |hosts AS MATERIALIZED (
      |  SELECT host, COUNT(*) AS n_docs,
      |    CAST(SUM(length(text)) AS BIGINT) AS total_chars
      |  FROM h GROUP BY 1)
      |SELECT host, n_docs, total_chars,
      |  CAST(n_docs AS DOUBLE) / (SELECT SUM(n_docs) FROM hosts) AS share
      |FROM hosts ORDER BY host""".stripMargin

  // ---------------------------------------------------------------- q97
  /** Vocabulary coverage curve (Zipf head): the top-50 tokens by corpus
    * frequency with rank, count, and CUMULATIVE share of all token
    * occurrences — the statistic that sizes a tokenizer vocabulary
    * ("how much of the corpus do the top N types cover?").
    *
    * Scale shape: token counts are one map-side-combinable agg; the
    * top-50 lowers to TakeOrderedAndProject, and the running sum windows
    * over those 50 rows ONLY (never the full vocab — a whole-vocab
    * unpartitioned window would serialize on one task; the corpus total
    * instead rides a 1-row broadcast). Counts are longs, so the shares
    * are exact integer-ratio doubles — no rounding grid needed. */
  def q97VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val tok = Kpis.table(spark, dir, "documents")
      .select(explode(tokens(lower(col("text")))).as("token"))
    val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val tot = vocab.agg(sum(col("cnt")).as("total"))
    val top = vocab.orderBy(col("cnt").desc, col("token")).limit(50)
    val w = Window.orderBy(col("cnt").desc, col("token"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("token"))))
      .withColumn("cum_cnt", sum(col("cnt")).over(w))
      .select(col("rank"), col("token"), col("cnt"),
        (col("cnt").cast("double") / col("total").cast("double"))
          .as("share"),
        (col("cum_cnt").cast("double") / col("total").cast("double"))
          .as("cum_share"))
      .orderBy("rank")
  }

  val q97Sql: String =
    """WITH tok AS (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      |  FROM documents WHERE length(trim(text)) > 0),
      |vocab AS MATERIALIZED (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
      |top AS (SELECT token, cnt FROM vocab ORDER BY cnt DESC, token LIMIT 50)
      |SELECT
      |  CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS INTEGER) AS rank,
      |  token, cnt,
      |  CAST(cnt AS DOUBLE) / (SELECT SUM(cnt) FROM vocab) AS share,
      |  CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / (SELECT SUM(cnt) FROM vocab) AS cum_share
      |FROM top ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- q98
  /** Incremental NEAR-dup flagging against a persisted MinHash band
    * store — q94's exact-dedup twin for the fuzzy case: crawl N's
    * documents are banded (8×2 over 16-element signatures, the q22
    * parameters) and joined against the accumulated corpus's band table;
    * only band-colliding pairs are exact-Jaccard verified.
    *
    * Store layout mirrors q94: (bucket_key, doc_id) with bucket_key =
    * band ':' band_hash — ONE column carrying the full collision
    * identity — bucketed on bucket_key via [[Warehouse.writeBucketed]],
    * so the store side of every batch's candidate join comes straight
    * off the bucketed scan: the accumulated band table (8 rows per
    * admitted doc) never re-shuffles. The single-column key is
    * load-bearing, not cosmetic: a (band, band_hash) two-column join
    * makes the planner reject the bucketed scan outright (subset-key
    * co-partitioning fails requireAllClusterKeysForCoPartition), and a
    * band-equality post-filter gets folded back into the join keys —
    * composing the key at WRITE time is what keeps the probe
    * shuffle-free (BandStoreGcSpec pins the plan). Verification
    * re-reads shingles ONLY for candidate store docs (an equi-join on
    * doc_id), never the whole corpus.
    *
    * The simulated batch: every 10th doc returns as a near-clone
    * (+1e12 ids, 3 appended tokens — must flag against its original) and
    * every 7th doc arrives token-remapped (+2e12 ids, '_n9' suffix —
    * disjoint shingles, must NOT flag). The oracle replays store ∪ batch
    * through the shared MinHash SQL fragment and keeps only cross-side
    * pairs — a hash match certifies the store round-trip plus banding
    * arithmetic end to end. */
  def q98MinhashStoreDedup(spark: SparkSession, dir: String): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    // the corpus feeds the store's band build, the incoming crawl and the
    // verify-side shingle fetch; persist so its scan + shuffle runs once
    // (the q42/q48 convention). The repartition spreads the single-file
    // fixture scan so the 16-permutation signature pass parallelizes
    // (q22's lesson). Shingles and band keys are BandStore's spelling.
    val corpus = Kpis.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .repartition(par, col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpusSh = BandStore.shingleSets(corpus)
    // the persisted store: corpus bands, bucketed on the join key
    val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
    val table = s"graft_q98_bands$slug"
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_q98_bands$slug"
    Warehouse.writeBucketed(BandStore.bandsOf(corpusSh),
      table, path, "bucket_key", IncrementalDedup.StoreBuckets,
      mode = "overwrite")
    // the incoming crawl
    val near = corpus.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(1000000000000L)).as("doc_id"),
        concat(col("text"), lit(" zz extra tail")).as("text"))
    val novel = corpus.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + lit(2000000000000L)).as("doc_id"),
        concat_ws(" ", transform(tokens(col("text")),
          t => concat(t, lit("_n9")))).as("text"))
    val batchSh = BandStore.shingleSets(near.unionAll(novel))
    val cand = spark.table(table)
      .withColumnRenamed("doc_id", "a_id")
      .join(BandStore.bandsOf(batchSh).withColumnRenamed("doc_id", "b_id"),
        Seq("bucket_key"))
    // verify: dedup BARE id pairs first (a pair colliding in several bands
    // must not ship its shingle array once per band — the q26 convention),
    // then fetch both sides' shingles by id
    val aSh = corpusSh.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val bSh = batchSh.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    val out = graft.plans.Eager.ckpt(
      cand.select(col("a_id"), col("b_id")).distinct()
        .join(aSh, "a_id")
        .join(bSh, "b_id")
        .select(col("a_id"), col("b_id"),
          jaccard(col("a_sh"), col("b_sh")).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy("a_id", "b_id"))
    corpus.unpersist()
    out
  }

  val q98Sql: String = {
    val corpus =
      """SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000000 AS doc_id,
        |    text || ' zz extra tail' AS text
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000000000 AS doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN ''
        |         ELSE array_to_string(list_transform(
        |           regexp_split_to_array(trim(text), '\s+'),
        |           t -> t || '_n9'), ' ') END AS text
        |  FROM documents WHERE doc_id % 7 = 0""".stripMargin
    s"""WITH corpus AS ($corpus),
       |${DocQueries.minhashPairsSqlFragment("corpus")}
       |SELECT a_id, b_id, jaccard FROM pairs
       |WHERE jaccard >= 0.5 AND a_id < 1000000000000
       |  AND b_id >= 1000000000000
       |ORDER BY a_id, b_id""".stripMargin
  }

  // --------------------------------------------------------------- q100
  /** TPC-H Q7 shape (volume shipping): revenue between every
    * (supplier-nation, customer-nation) pair for 1995–1996 ship dates,
    * by ship year. Five-way join: two fact tables meet on l_orderkey,
    * the two nation lookups ride broadcast; the ship-date window is a
    * PushedFilter on the lineitem scan. Output is nations² × years —
    * dimension-bounded, so the final agg is tiny; revenue follows the
    * exact decimal-sum→double convention. */
  def q100NationVolume(spark: SparkSession, dir: String): DataFrame = {
    val l = Kpis.table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01 00:00:00"))
        && col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("l_year"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)").as("rev"))
    val s = Kpis.table(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val o = Kpis.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val c = Kpis.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val n1 = broadcast(Kpis.table(spark, dir, "nation")
      .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation")))
    val n2 = broadcast(Kpis.table(spark, dir, "nation")
      .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation")))
    l.join(s, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n1, col("s_nationkey") === col("sk"))
      .join(n2, col("c_nationkey") === col("ck"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum(col("rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val q100Sql: String =
    """WITH l AS (
      |  SELECT l_orderkey, l_suppkey,
      |    CAST(year(l_shipdate) AS INTEGER) AS l_year,
      |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00')
      |SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, l_year,
      |  CAST(SUM(rev) AS DOUBLE) AS revenue, COUNT(*) AS n_items
      |FROM l
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // --------------------------------------------------------------- q102
  /** Partition-digest reconciliation — the scale complement to q90's
    * row-level snapshot diff: to compare two 100 TB table versions you do
    * NOT ship rows; each side computes one digest row per key-bucket
    * (order-independent XOR of row hashes + a count — merkle-style), the
    * k digest rows travel, and only the buckets whose digests differ get
    * the row-level q90 treatment. XOR is commutative/associative, so the
    * digest is partition-layout- and order-independent — any cluster
    * computes the same 64 rows for the same data.
    *
    * Fixture: version B perturbs orders deterministically (every 1000th
    * key re-priced, every 997th dropped). Output = the differing buckets
    * with both sides' counts and digests. Scale shape: two
    * map-side-combinable aggs (bucket cardinality k each) + one k-row
    * join; nothing else moves. */
  /** Per-bucket merkle digest of a keyed frame: bucket = key mod
    * `buckets`; digest = order-independent BIT_XOR of md5-derived row
    * hashes over `rowExpr` + a row count. XOR commutativity makes the
    * result partition-layout- and order-independent (property-tested in
    * Round9PropertiesSpec); any single-row change flips its bucket's
    * digest. */
  def bucketDigest(df: DataFrame, keyCol: Column, rowExpr: Column,
                   buckets: Int, pfx: String): DataFrame = df
    .select(pmod(keyCol, lit(buckets)).as("bucket"),
      md5Hash60(rowExpr).as("h"))
    .groupBy(col("bucket"))
    .agg(count(lit(1)).as(s"${pfx}_cnt"),
      expr("bit_xor(h)").as(s"${pfx}_digest"))

  def q102PartitionDigest(spark: SparkSession, dir: String): DataFrame = {
    val o = Kpis.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
    val a = o
    val b = o.filter(col("o_orderkey") % 997 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 1000 === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")))
    val row = concat_ws("|", col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast("decimal(18,4)").cast("string"),
      col("o_orderstatus"))
    def digest(df: DataFrame, pfx: String): DataFrame =
      bucketDigest(df, col("o_orderkey"), row, 64, pfx)
    digest(a, "a").join(digest(b, "b"), Seq("bucket"), "full_outer")
      .filter(!(col("a_digest") <=> col("b_digest"))
        || !(col("a_cnt") <=> col("b_cnt")))
      .select(col("bucket"), col("a_cnt"), col("b_cnt"),
        col("a_digest"), col("b_digest"))
      .orderBy("bucket")
  }

  val q102Sql: String = {
    val h = md5Hash60Sql(
      "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)" +
        " || '|' || CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS VARCHAR)" +
        " || '|' || o_orderstatus")
    s"""WITH o AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      |  FROM orders),
      |b0 AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderkey % 1000 = 0 THEN o_totalprice + 1.0
      |         ELSE o_totalprice END AS o_totalprice,
      |    o_orderstatus
      |  FROM o WHERE o_orderkey % 997 <> 0),
      |da AS (
      |  SELECT o_orderkey % 64 AS bucket, COUNT(*) AS a_cnt,
      |    BIT_XOR($h) AS a_digest
      |  FROM o GROUP BY 1),
      |db AS (
      |  SELECT o_orderkey % 64 AS bucket, COUNT(*) AS b_cnt,
      |    BIT_XOR($h) AS b_digest
      |  FROM b0 GROUP BY 1)
      |SELECT bucket, a_cnt, b_cnt, a_digest, b_digest
      |FROM da FULL OUTER JOIN db USING (bucket)
      |WHERE a_digest IS DISTINCT FROM b_digest
      |   OR a_cnt IS DISTINCT FROM b_cnt
      |ORDER BY bucket""".stripMargin
  }

  // --------------------------------------------------------------- q103
  /** Event-type transition matrix — first-order Markov statistics over
    * each user's event stream (the path-analysis primitive behind "what
    * do users do after an error?"): consecutive (current → next) pairs
    * via a per-user lead window, counted, with P(next | current) as an
    * exact long-ratio double.
    *
    * Scale shape: ONE per-user window (state bounded by a user's events,
    * the q34 sessionization partitioning), one hash agg to the
    * |types|²-bounded matrix, and a broadcast-sized per-current totals
    * join. Order is total (ts, event_id), so the lead is deterministic. */
  def q103EventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val tr = Kpis.eventsTable(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("cur_type"), col("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
    val totals = tr.groupBy(col("cur_type"))
      .agg(sum(col("n_transitions")).as("n_from"))
    tr.join(broadcast(totals), "cur_type")
      .select(col("cur_type"), col("next_type"), col("n_transitions"),
        (col("n_transitions").cast("double") / col("n_from").cast("double"))
          .as("p_next"))
      .orderBy("cur_type", "next_type")
  }

  val q103Sql: String =
    """WITH tr0 AS (
      |  SELECT event_type AS cur_type,
      |    LEAD(event_type, 1) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |tr AS (
      |  SELECT cur_type, next_type, COUNT(*) AS n_transitions
      |  FROM tr0 WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (
      |  SELECT cur_type, CAST(SUM(n_transitions) AS BIGINT) AS n_from
      |  FROM tr GROUP BY 1)
      |SELECT cur_type, next_type, n_transitions,
      |  CAST(n_transitions AS DOUBLE) / CAST(n_from AS DOUBLE) AS p_next
      |FROM tr JOIN tot USING (cur_type)
      |ORDER BY cur_type, next_type""".stripMargin

  // --------------------------------------------------------------- q104
  /** TPC-H Q19 shape (disjunctive brand/size/quantity bands): revenue per
    * matched brand band from lineitem ⋈ part under an OR-of-ANDs
    * predicate — the "discounted promo revenue" join Catalyst handles by
    * pushing the disjunction's COMMON constraints (size ≥ 1, qty bounds)
    * to the scans and evaluating the full predicate at the join.
    * part is dimension-sized → broadcast; revenue is the exact
    * decimal-sum convention. */
  def q104BrandBands(spark: SparkSession, dir: String): DataFrame = {
    val l = Kpis.table(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)").as("rev"))
    val p = Kpis.table(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val band = when(col("p_brand") === "Brand#2"
        && col("p_size").between(1, 10)
        && col("l_quantity").between(1, 20), lit("band_small"))
      .when(col("p_brand") === "Brand#4"
        && col("p_size").between(1, 25)
        && col("l_quantity").between(10, 35), lit("band_mid"))
      .when(col("p_brand") === "Brand#19"
        && col("p_size").between(1, 50)
        && col("l_quantity").between(20, 50), lit("band_large"))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .withColumn("band", band)
      .filter(col("band").isNotNull)
      .groupBy(col("band"))
      .agg(sum(col("rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("band")
  }

  val q104Sql: String =
    """WITH j AS (
      |  SELECT CASE
      |    WHEN p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
      |         AND l_quantity BETWEEN 1 AND 20 THEN 'band_small'
      |    WHEN p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 25
      |         AND l_quantity BETWEEN 10 AND 35 THEN 'band_mid'
      |    WHEN p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 50
      |         AND l_quantity BETWEEN 20 AND 50 THEN 'band_large'
      |    END AS band,
      |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS rev
      |  FROM lineitem JOIN part ON l_partkey = p_partkey)
      |SELECT band, CAST(SUM(rev) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM j WHERE band IS NOT NULL
      |GROUP BY band ORDER BY band""".stripMargin

  // --------------------------------------------------------------- q105
  /** Daily-revenue anomaly days: |z| ≥ 2 against the all-days mean/std —
    * the monitoring query a pipeline alerts on. Exactness is the q69
    * closed-form discipline: daily sums are DECIMAL(18,4) (exact), mean
    * and variance come from (n·Σx² − (Σx)²) in exact decimal arithmetic,
    * and only the final divisions/sqrt are single double ops on identical
    * operands — no rounding fudge anywhere.
    *
    * Scale shape: one map-side-combinable daily agg, one 1-row stats
    * broadcast, pure-map z computation. Population std (n divisor),
    * mirrored by the oracle. */
  def q105RevenueAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val daily = Kpis.table(spark, dir, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("ship_day"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).as("rev"))
    // s1/s2 are exact decimal sums; they cast to double BEFORE the moment
    // arithmetic (an n·s2 decimal product would overflow precision 38 and
    // precision-loss-rescale). Both engines then run the identical IEEE
    // chain on identical doubles; DuckDB's decimal→double cast is 1 ulp
    // off beyond 2^53 units, so its twin routes through VARCHAR (the q72
    // convention).
    val stats = daily.agg(
      count(lit(1)).as("n"),
      sum(col("rev")).cast("double").as("s1"),
      sum(col("rev") * col("rev")).cast("double").as("s2"))
    daily.crossJoin(broadcast(stats))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("mean", col("s1") / col("nd"))
      .withColumn("var",
        (col("nd") * col("s2") - col("s1") * col("s1"))
          / (col("nd") * col("nd")))
      .withColumn("z",
        (col("rev").cast("double") - col("mean")) / sqrt(col("var")))
      .filter(abs(col("z")) >= 2.0)
      .select(date_format(col("ship_day"), "yyyy-MM-dd").as("ship_day"),
        col("rev").cast("double").as("revenue"), col("z"))
      .orderBy("ship_day")
  }

  val q105Sql: String =
    """WITH daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS ship_day,
      |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
      |  FROM lineitem GROUP BY 1),
      |stats AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
      |    CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE) AS s1,
      |    CAST(CAST(SUM(rev * rev) AS VARCHAR) AS DOUBLE) AS s2
      |  FROM daily),
      |z AS (
      |  SELECT ship_day, rev,
      |    (CAST(rev AS DOUBLE) - s1 / nd)
      |      / sqrt((nd * s2 - s1 * s1) / (nd * nd)) AS z
      |  FROM daily CROSS JOIN stats)
      |SELECT strftime(ship_day, '%Y-%m-%d') AS ship_day,
      |  CAST(rev AS DOUBLE) AS revenue, z
      |FROM z WHERE abs(z) >= 2.0 ORDER BY ship_day""".stripMargin

  // --------------------------------------------------------------- q106
  /** Referential-integrity audit across the star schema's FK edges: for
    * each edge, total child rows and orphan rows (children whose parent
    * key is absent) via LEFT ANTI joins — the data-quality gate every
    * warehouse load runs. On healthy fixtures all orphan counts are 0;
    * the query still scans and proves it.
    *
    * Scale shape: each edge is one anti-join on its FK (broadcast where
    * the parent is dimension-sized); counts are map-side-combinable; the
    * result is one row per edge. */
  def q106FkAudit(spark: SparkSession, dir: String): DataFrame = {
    // one lazy distributed plan per edge (left join + null-count agg) —
    // no driver-side counts; the union stays a single job
    def edge(name: String, child: DataFrame, fk: String, parent: DataFrame,
             pk: String): DataFrame =
      child.select(col(fk))
        .join(parent.select(col(pk)), col(fk) === col(pk), "left")
        .agg(count(lit(1)).as("n_children"),
          sum(when(col(pk).isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(name).as("fk_edge"), col("n_children"),
          col("n_orphans"))
    val li = Kpis.table(spark, dir, "lineitem")
    val o = Kpis.table(spark, dir, "orders")
    edge("customer->nation", Kpis.table(spark, dir, "customer"),
        "c_nationkey", Kpis.table(spark, dir, "nation"), "n_nationkey")
      .unionAll(edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey"))
      .unionAll(edge("lineitem->part", li, "l_partkey",
        Kpis.table(spark, dir, "part"), "p_partkey"))
      .unionAll(edge("lineitem->supplier", li, "l_suppkey",
        Kpis.table(spark, dir, "supplier"), "s_suppkey"))
      .unionAll(edge("orders->customer", o, "o_custkey",
        Kpis.table(spark, dir, "customer"), "c_custkey"))
      .unionAll(edge("supplier->nation", Kpis.table(spark, dir, "supplier"),
        "s_nationkey", Kpis.table(spark, dir, "nation"), "n_nationkey"))
      .orderBy("fk_edge")
  }

  val q106Sql: String =
    """SELECT 'customer->nation' AS fk_edge, COUNT(*) AS n_children,
      |  CAST(SUM(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_orphans
      |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
      |UNION ALL
      |SELECT 'lineitem->orders', COUNT(*),
      |  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
      |UNION ALL
      |SELECT 'lineitem->part', COUNT(*),
      |  CAST(SUM(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
      |UNION ALL
      |SELECT 'lineitem->supplier', COUNT(*),
      |  CAST(SUM(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
      |UNION ALL
      |SELECT 'orders->customer', COUNT(*),
      |  CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      |UNION ALL
      |SELECT 'supplier->nation', COUNT(*),
      |  CAST(SUM(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
      |ORDER BY fk_edge""".stripMargin

  // --------------------------------------------------------------- q107
  /** Rolling 4-week active users — the WAU/MAU-style sliding-window
    * DISTINCT count, computed WITHOUT a window function: a user's
    * (user, week) presence row contributes to target weeks w..w+3 via a
    * bounded explode, and the rolling count is a plain distinct-then-agg.
    * A windowed `approx/count_distinct OVER (RANGE 3 PRECEDING)` cannot
    * partial-aggregate and re-scans the frame per row; the contribution
    * rewrite is two hash shuffles with map-side combine — the scale
    * shape for sliding distinct counts. Weeks are integer indexes from a
    * fixed anchor (floored division — identical for pre-anchor dates in
    * both engines). Output covers weeks WITH activity (inner join with
    * the per-week presence table). */
  def q107RollingWau(spark: SparkSession, dir: String): DataFrame = {
    val wk = floor(datediff(col("ts").cast("date"),
      lit("2024-01-01").cast("date")) / 7).cast("long")
    val pres = Kpis.eventsTable(spark, dir)
      .select(col("user_id"), wk.as("wk")).distinct()
    val wau = pres.groupBy(col("wk")).agg(count(lit(1)).as("weekly_users"))
    val roll = pres
      .select(col("user_id"),
        explode(sequence(col("wk"), col("wk") + lit(3))).as("wk"))
      .distinct()
      .groupBy(col("wk")).agg(count(lit(1)).as("rolling_4wk_users"))
    wau.join(roll, "wk")
      .select(col("wk").as("week_idx"), col("weekly_users"),
        col("rolling_4wk_users"))
      .orderBy("week_idx")
  }

  val q107Sql: String =
    """WITH pres AS (
      |  SELECT DISTINCT user_id,
      |    CAST(floor(date_diff('day', DATE '2024-01-01',
      |      CAST(ts AS DATE)) / 7.0) AS BIGINT) AS wk
      |  FROM events),
      |wau AS (SELECT wk, COUNT(*) AS weekly_users FROM pres GROUP BY 1),
      |contrib AS (
      |  SELECT DISTINCT user_id, wk + d AS wk2
      |  FROM pres CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(d)),
      |roll AS (
      |  SELECT wk2 AS wk, COUNT(*) AS rolling_4wk_users
      |  FROM contrib GROUP BY 1)
      |SELECT wk AS week_idx, weekly_users, rolling_4wk_users
      |FROM wau JOIN roll USING (wk)
      |ORDER BY week_idx""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q107_rolling_wau", q107RollingWau _, q107Sql),
    Query("q105_revenue_anomalies", q105RevenueAnomalies _, q105Sql),
    Query("q106_fk_audit", q106FkAudit _, q106Sql),
    Query("q103_event_transitions", q103EventTransitions _, q103Sql),
    Query("q104_brand_bands", q104BrandBands _, q104Sql),
    Query("q102_partition_digest", q102PartitionDigest _, q102Sql),
    Query("q100_nation_volume", q100NationVolume _, q100Sql),
    Query("q95_big_orders", q95BigOrders _, q95Sql),
    Query("q96_host_stats", q96HostStats _, q96Sql),
    Query("q97_vocab_coverage", q97VocabCoverage _, q97Sql),
    Query("q98_minhash_store_dedup", q98MinhashStoreDedup _, q98Sql))
}
