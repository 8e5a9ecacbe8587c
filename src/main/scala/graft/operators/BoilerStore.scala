package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.TextFunctions.{md5Hash60, md5Hash60Sql, tokens}
import graft.queries.Kpis

/** The persisted BOILERPLATE-FINGERPRINT store — the q446 content-defined
  * boilerplate detector's frequency census as a maintained artifact, so a
  * live pipeline can ask "does this arriving document carry template text
  * already known corpus-wide?" without re-censusing the corpus per batch.
  *
  * Store layout — TWO bucketed tables with the [[DocStore]] lifecycle:
  *   - `<table>_inc` (fp, doc_id): the distinct INCIDENCE of eligible
  *     (≥ [[CdcMinLen]]-token) CDC chunk fingerprints in admitted docs,
  *     hash-bucketed + sorted on fp — document frequency is
  *     COUNT(DISTINCT doc_id) per fp, aggregated on the bucketed scan at
  *     probe time (co-located by fp, no exchange). Incidence rather than
  *     a count ledger makes RETIREMENT exact: dropping a document's rows
  *     decrements every df it contributed to, with no tombstone math.
  *   - `<table>_docs` (doc_id): admitted doc ids, bucketed on doc_id.
  *
  * Probe shape per batch: CDC-chunk the batch docs (per-row array
  * expressions, zero shuffle), join the batch's DISTINCT fps against the
  * bucketed incidence scan (store side exchange-free; only batch fps
  * shuffle), df-filter at [[B]], flag the batch's chunks, and collapse to
  * ONE verdict row per batch document — a pure function of
  * (document, store generation), the batch-split-invariance property the
  * streaming twin ([[graft.streaming.BoilerProbeStream]]) rests on. */
object BoilerStore {

  /** Boilerplate document-frequency threshold (q444/q446's B). */
  val B = 5
  /** CDC breakpoint divisor: a token whose md5-60 hash ≡ 0 (mod 8) ends a
    * chunk (content-defined boundaries realign after any prefix shift —
    * the property that catches APPENDED/PREPENDED templates q444's stride
    * grid misses). */
  val CdcMod = 8
  /** Chunks shorter than this are never boilerplate-eligible. */
  val CdcMinLen = 4

  /** Content-defined chunks of a (doc_id, toks) frame —
    * (doc_id, t0, cl, fp), fp = md5 of the space-joined chunk tokens.
    * Break positions → start/end zip, all per-row array expressions (zero
    * shuffle; ONE spelling, shared by q446 and the store). */
  def cdcChunks(toksDf: DataFrame): DataFrame = {
    val n = size(col("toks"))
    val breaks = filter(sequence(lit(0), n - 1),
      i => md5Hash60(element_at(col("toks"), i + 1)) % CdcMod === 0)
    val starts = concat(array(lit(0)), transform(breaks, b => b + 1))
    val ends = concat(transform(breaks, b => b + 1), array(n))
    val chunks = filter(
      zip_with(starts, ends, (s, e) => struct(s.as("t0"), (e - s).as("cl"))),
      c => c.getField("cl") > 0)
    toksDf
      .select(col("doc_id"), col("toks"),
        posexplode(chunks).as(Seq("cid", "c")))
      .select(col("doc_id"), col("c.t0").as("t0"), col("c.cl").as("cl"),
        md5(concat_ws(" ",
          slice(col("toks"), col("c.t0") + 1, col("c.cl")))).as("fp"))
  }

  /** SQL twin of [[cdcChunks]] from a tokens CTE `$toksCte` (doc_id,
    * toks): CTEs ending in `cch$sfx` (doc_id, t0, cl, fp) — the window
    * formulation (maximal runs between break tokens), provably the same
    * chunks. */
  def cdcChunkSql(toksCte: String, sfx: String): String =
    s"""tk$sfx AS (
      |  SELECT doc_id, unnest(generate_series(1, len(toks))) AS p, toks
      |  FROM $toksCte),
      |tb$sfx AS (
      |  SELECT doc_id, p, toks[p] AS tok,
      |    CASE WHEN ${md5Hash60Sql("toks[p]")} % $CdcMod = 0
      |      THEN 1 ELSE 0 END AS b
      |  FROM tk$sfx),
      |tc$sfx AS (
      |  SELECT doc_id, p, tok,
      |    COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY p
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
      |  FROM tb$sfx),
      |cch$sfx AS (
      |  SELECT doc_id, CAST(MIN(p) - 1 AS BIGINT) AS t0,
      |    CAST(COUNT(*) AS BIGINT) AS cl,
      |    md5(string_agg(tok, ' ' ORDER BY p)) AS fp
      |  FROM tc$sfx GROUP BY doc_id, cid)""".stripMargin

  private def toksOf(docs: DataFrame): DataFrame = docs
    .filter(length(trim(col("text"))) > 0)
    .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))

  /** Distinct eligible (fp, doc_id) incidence of a (doc_id, text) frame —
    * what the store accumulates. */
  def incidence(docs: DataFrame): DataFrame =
    cdcChunks(toksOf(docs))
      .filter(col("cl") >= CdcMinLen)
      .select(col("fp"), col("doc_id")).distinct()

  private val Inc = DocStore.Table("_inc", "fp", incidence)
  private val Docs = DocStore.Table("_docs", "doc_id",
    _.select(col("doc_id")).distinct())
  /** The incidence table on fp and the admitted doc ids on doc_id, both
    * over the (doc_id, text) documents themselves. */
  val Store: DocStore = DocStore(identity, Seq(Inc, Docs))

  def incTable(table: String): String = Inc.name(table)
  def docsTable(table: String): String = Docs.name(table)

  /** (Over)write both tables from a (doc_id, text) corpus. */
  def writeStore(corpus: DataFrame, table: String, path: String): Unit =
    Store.write(corpus, table, path)

  /** Append admitted documents to both tables ([[DocStore.append]]):
    * at-least-once redelivery cannot inflate any fp's document
    * frequency. */
  def appendToStore(admitted: DataFrame, table: String, path: String)
      : Unit = Store.append(admitted, table, path)

  /** Retire documents from both tables into the GC generation. Because
    * the store holds INCIDENCE rows, retirement exactly decrements every
    * df the retired docs contributed — a template whose hosts all leave
    * the corpus stops being boilerplate, with no tombstone arithmetic. */
  def retireFromStore(spark: SparkSession, table: String,
      retired: DataFrame, gcTable: String, gcPath: String): Unit =
    Store.retire(spark, table, retired, gcTable, gcPath)

  /** One verdict row per `batch` (doc_id, text) document against the
    * frozen incidence generation: (doc_id, n_chunks, n_eligible,
    * n_boiler_chunks, boiler_tokens, doc_tokens, is_clean). Boilerplate
    * is judged against the STORE's document frequencies only (batch-
    * internal repetition does not count — admission happens one document
    * at a time). The batch is deduped on doc_id; empty-text docs get the
    * all-zero clean row (one row per batch document, the twin's
    * batch-split-invariance contract). */
  def probeStore(batch: DataFrame, inc: DataFrame): DataFrame = {
    val b = batch.dropDuplicates("doc_id")
    probeStoreCh(b.select(col("doc_id")).distinct(),
      graft.plans.Eager.ckpt(cdcChunks(toksOf(b))), inc)
  }

  /** [[probeStore]] over PRE-DERIVED batch chunks (`ch` — the
    * materialized [[cdcChunks]] of the doc_id-deduped batch, `ids` its
    * distinct doc ids): the evolution certificate probes one FIXED
    * batch against three store generations, and a doc's chunks depend
    * on nothing but the doc — chunk once, probe three times (r18,
    * guide §2.4). */
  def probeStoreCh(ids: DataFrame, ch: DataFrame,
                   inc: DataFrame): DataFrame = {
    val batchFps = ch.filter(col("cl") >= CdcMinLen)
      .select(col("fp")).distinct()
    val boiler = inc.join(batchFps, "fp")
      .groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= B)
      .select(col("fp"), lit(1).as("isb"))
    val flagged = ch.join(boiler,
        ch("fp") === boiler("fp") && ch("cl") >= CdcMinLen, "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("cl") >= CdcMinLen, 1L).otherwise(0L))
          .as("n_eligible"),
        sum(coalesce(col("isb").cast("long"), lit(0L)))
          .as("n_boiler_chunks"),
        sum(when(col("isb").isNotNull, col("cl").cast("long"))
          .otherwise(0L)).as("boiler_tokens"),
        sum(col("cl").cast("long")).as("doc_tokens"))
    ids
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_eligible"), lit(0L)).as("n_eligible"),
        coalesce(col("n_boiler_chunks"), lit(0L)).as("n_boiler_chunks"),
        coalesce(col("boiler_tokens"), lit(0L)).as("boiler_tokens"),
        coalesce(col("doc_tokens"), lit(0L)).as("doc_tokens"),
        (coalesce(col("n_boiler_chunks"), lit(0L)) === 0L).cast("int")
          .as("is_clean"))
  }

  // --------------------------------------------------------------- q450
  /** Store EVOLUTION certificate (the q436 discipline applied to the
    * boilerplate store): one FIXED probe batch — every doc ≡ 0 mod 4
    * re-crawled at +1e12 with a NEW 24-token template ("ntp…") prepended
    * — probed against three generations of the same physical tables:
    *   phase 1 — store = the base corpus (the template is UNKNOWN: its
    *     chunks have df 0, so probes are flagged only by organic
    *     template noise);
    *   phase 2 — after [[appendToStore]] of a crawl wave carrying the
    *     same template (docs ≡ 2 mod 3 at +2e12, template-prefixed):
    *     the template's four internal CDC chunks (24 tokens — "ntp"
    *     breaks at 3/12/18/23, so ALL template chunks are internal and
    *     host-independent) cross df ≥ B and every probe doc flips;
    *   phase 3 — after [[retireFromStore]] of the entire wave: the
    *     template's df collapses to 0 and phase 3 must equal phase 1
    *     ROW FOR ROW (append ∘ retire = identity — exact because the
    *     store holds incidence, not counts).
    * Phase verdicts are checkpointed before each mutation (q436's
    * barrier rule — the probe plan reads the live tables).
    *
    * The DuckDB oracle CDC-chunks base ∪ wave ∪ probes ONCE and
    * re-derives each phase's dfs under a store-membership filter — valid
    * because a doc's chunks depend on nothing but the doc.
    *
    * Scale shape: three probes (store side bucketed/exchange-free,
    * batch side pays one fp shuffle of its distinct fps), one
    * delta-proportional append, one anti-join GC rewrite. */
  def q450BoilerStoreEvolution(spark: SparkSession, dir: String)
      : DataFrame = {
    val Ntp = (0 until 24).map(i => f"ntp$i%02d").mkString(" ")
    val par = spark.sparkContext.defaultParallelism
    val d = Kpis.table(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("text"))
      .repartition(par, col("doc_id"))
    val wave = d.filter(col("doc_id") % 3 === 2)
      .select((col("doc_id") + lit(2000000000000L)).as("doc_id"),
        concat_ws(" ", lit(Ntp), col("text")).as("text"))
    val probe = d.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + lit(1000000000000L)).as("doc_id"),
        concat_ws(" ", lit(Ntp), col("text")).as("text"))
      .localCheckpoint(true)
    val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
    val table = s"graft_q450_store$slug"
    val gcTable = s"graft_q450_gc$slug"
    val tmp = System.getProperty("java.io.tmpdir")
    val path = s"$tmp/graft_q450_store$slug"
    val gcPath = s"$tmp/graft_q450_gc$slug"
    // the FIXED probe batch is CDC-chunked once and reused by all three
    // phase probes (guide §2.4) — a doc's chunks depend on nothing but
    // the doc, so the three probes are byte-identical
    val pb = probe.dropDuplicates("doc_id")
    val probeIds = graft.plans.Eager.ckpt(
      pb.select(col("doc_id")).distinct())
    val probeCh = graft.plans.Eager.ckpt(cdcChunks(toksOf(pb)))
    def probeNow(t: String) =
      probeStoreCh(probeIds, probeCh, spark.table(incTable(t)))
    writeStore(d, table, path)
    val p1 = probeNow(table).withColumn("phase", lit(1))
      .localCheckpoint(true)
    appendToStore(wave, table, path)
    val p2 = probeNow(table).withColumn("phase", lit(2))
      .localCheckpoint(true)
    retireFromStore(spark, table, wave.select(col("doc_id")), gcTable,
      gcPath)
    val p3 = probeNow(gcTable).withColumn("phase", lit(3))
    p1.unionAll(p2).unionAll(p3)
      .select(col("phase"), col("doc_id"), col("n_chunks"),
        col("n_eligible"), col("n_boiler_chunks"), col("boiler_tokens"),
        col("doc_tokens"), col("is_clean"))
      .orderBy("phase", "doc_id")
  }

  val q450Sql: String = {
    val ntp = (0 until 24).map(i => f"ntp$i%02d").mkString(" ")
    s"""WITH d0 AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE length(trim(text)) > 0),
      |pl AS (
      |  SELECT doc_id, text FROM d0
      |  UNION ALL
      |  SELECT doc_id + 2000000000000 AS doc_id, '$ntp' || ' ' || text
      |  FROM d0 WHERE doc_id % 3 = 2
      |  UNION ALL
      |  SELECT doc_id + 1000000000000 AS doc_id, '$ntp' || ' ' || text
      |  FROM d0 WHERE doc_id % 4 = 0),
      |d AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      |  FROM pl),
      |${cdcChunkSql("d", "")},
      |phases(phase) AS (VALUES (1), (2), (3)),
      |member AS (
      |  SELECT p.phase, m.doc_id
      |  FROM (SELECT doc_id FROM pl WHERE doc_id < 1000000000000
      |        UNION ALL
      |        SELECT doc_id FROM pl WHERE doc_id >= 2000000000000) m
      |  CROSS JOIN phases p
      |  WHERE m.doc_id < 1000000000000 OR p.phase = 2),
      |dfs AS (
      |  SELECT m.phase, c.fp, COUNT(DISTINCT c.doc_id) AS df
      |  FROM cch c JOIN member m USING (doc_id)
      |  WHERE c.cl >= $CdcMinLen GROUP BY 1, 2),
      |boiler AS (SELECT phase, fp FROM dfs WHERE df >= $B),
      |pch AS (
      |  SELECT * FROM cch
      |  WHERE doc_id >= 1000000000000 AND doc_id < 2000000000000),
      |pj AS (
      |  SELECT p.phase, c.doc_id, c.cl,
      |    CASE WHEN c.cl >= $CdcMinLen THEN 1 ELSE 0 END AS elig,
      |    CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END AS isb
      |  FROM pch c CROSS JOIN phases p
      |  LEFT JOIN boiler b ON b.phase = p.phase AND b.fp = c.fp
      |    AND c.cl >= $CdcMinLen)
      |SELECT phase, doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |  CAST(SUM(elig) AS BIGINT) AS n_eligible,
      |  CAST(SUM(isb) AS BIGINT) AS n_boiler_chunks,
      |  CAST(SUM(CASE WHEN isb = 1 THEN cl ELSE 0 END) AS BIGINT)
      |    AS boiler_tokens,
      |  CAST(SUM(cl) AS BIGINT) AS doc_tokens,
      |  CAST(CASE WHEN SUM(isb) = 0 THEN 1 ELSE 0 END AS INTEGER)
      |    AS is_clean
      |FROM pj GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  def queries: Seq[Query] = Seq(
    Query("q450_boiler_store_evolution", q450BoilerStoreEvolution _, q450Sql))
}
