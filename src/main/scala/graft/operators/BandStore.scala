package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.TextFunctions.{jaccard, minhashBands, minhashSignature, shingles, tokens}
import graft.queries.Kpis

/** The persisted MinHash band store as a first-class OPERATOR (VERDICT
  * r15 #1): q98 drives the store end to end inside one registered query
  * and q340 GCs it, but the build/probe halves were not callable — which
  * is exactly what the live admission twin ([[graft.streaming.NearDupProbeStream]])
  * needs: "is this incoming document a NEAR-dup of the stored corpus?"
  * as a pure per-document function of (document, frozen store).
  *
  * Store layout is q98's, split into TWO bucketed tables so a probe
  * touches no unbucketed side:
  *   - `<table>_bands` (bucket_key, doc_id), hash-bucketed + sorted on
  *     the single composed `bucket_key` = band ':' band_hash — the one-
  *     column key is load-bearing (a two-column join key makes the
  *     planner reject the bucketed scan; see q98's scaladoc and
  *     BandStoreGcSpec's pinned plan);
  *   - `<table>_shingles` (doc_id, sh), hash-bucketed + sorted on
  *     doc_id — the verify side. q98 re-derives candidate shingles from
  *     the corpus text each run (fine inside one query, where the
  *     corpus scan is already warm); a store probed per micro-batch
  *     must NOT re-tokenize 100 TB per batch, so the shingle sets are
  *     persisted once at admission time and every batch's verify fetch
  *     is a bucketed equi-join on doc_id.
  *
  * Probe shape per batch: band the batch docs (8×2 over 16-element
  * signatures, q22's parameters — ONE spelling of the signature
  * arithmetic), equi-join `bucket_key` against the bucketed band scan
  * (store side shuffle-free), dedup bare candidate id pairs BEFORE
  * fetching either side's shingles (the q26 convention), fetch store
  * shingles off the bucketed doc_id scan, exact-Jaccard verify, and
  * collapse to ONE verdict row per batch document — clean documents
  * included with is_near_dup = 0 (the q48/q358 admission-report
  * discipline). Every column of the verdict is a deterministic
  * aggregate (count / min / 6-dp-snapped max), so the verdict is a
  * pure function of (document, store generation) — the property the
  * streaming twin's batch-split invariance rests on. */
object BandStore {

  val JaccardMin = 0.5

  /** Distinct-3-shingle sets of a (doc_id, text) frame — the stored
    * verify side and the probe-side derivation (ONE spelling). */
  def shingleSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingles(tokens(col("text")), 3).as("sh"))

  /** (doc_id, sh) → one (bucket_key, doc_id) row per band (8 per doc). */
  def bandsOf(docsSh: DataFrame): DataFrame = docsSh
    .withColumn("sig", minhashSignature(col("sh"), 16))
    .select(col("doc_id"),
      explode(minhashBands(col("sig"), 8, 2)).as("b"))
    .select(
      concat_ws(":", col("b.band"), col("b.band_hash")).as("bucket_key"),
      col("doc_id"))

  /** Distinct band-colliding candidate id pairs (a < b) of a
    * (doc_id, sh) frame — the in-query half of the banding chain,
    * reusing [[bandsOf]]'s composed key so the near-dup family's
    * candidate join has exactly ONE spelling (q432's cluster stage and
    * q434's caption side call this; the store probe joins the same
    * bandsOf output against the bucketed band table). */
  def candidatePairs(docsSh: DataFrame): DataFrame = {
    val banded = bandsOf(docsSh)
    banded.withColumnRenamed("doc_id", "a")
      .join(banded.withColumnRenamed("doc_id", "b"), Seq("bucket_key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  private val Bands = DocStore.Table("_bands", "bucket_key", bandsOf)
  private val Shingles = DocStore.Table("_shingles", "doc_id", identity)
  /** The two bucketed tables over [[shingleSets]]: the bands on the
    * composed bucket_key, the shingle sets themselves on doc_id. The
    * bands table's append guard pays one single-column shuffle of the
    * (8-rows-per-doc) band projection; the shingles side rides its
    * bucketed doc_id scan. */
  val Store: DocStore = DocStore(shingleSets, Seq(Bands, Shingles))

  def bandsTable(table: String): String = Bands.name(table)
  def shinglesTable(table: String): String = Shingles.name(table)

  /** (Over)write both tables from a (doc_id, text) corpus. */
  def writeStore(corpus: DataFrame, table: String, path: String): Unit =
    Store.write(corpus, table, path)

  /** Append admitted documents to both tables, idempotently per table
    * and per document ([[DocStore.append]]). */
  def appendToStore(admitted: DataFrame, table: String, path: String)
      : Unit = Store.append(admitted, table, path)

  /** Retire documents from both tables into the GC generation — the
    * takedown GC completing this store's maintenance pair. A running
    * [[graft.streaming.NearDupProbeStream]] holds the PRIOR generation
    * (resolved at query start) and is undisturbed; admitting the new
    * generation is an explicit restart. */
  def retireFromStore(spark: SparkSession, table: String,
      retired: DataFrame, gcTable: String, gcPath: String): Unit =
    Store.retire(spark, table, retired, gcTable, gcPath)

  /** One verdict row per `batch` (doc_id, text) document against the
    * frozen store generation (`bands`, `shingles` — the two bucketed
    * tables): (doc_id, n_candidates, n_matches, best_jaccard,
    * best_match, is_near_dup). `best_match` is the SMALLEST store doc
    * id among Jaccard-≥-0.5 matches (deterministic without argmax
    * pairing), −1 when clean; `best_jaccard` the 6-dp-snapped max.
    * The batch is deduped on doc_id first — a re-delivered document
    * (at-least-once) would otherwise fan the final left join into
    * duplicate verdict rows, breaking the one-row-per-document contract
    * the streaming twin's batch-split invariance rests on. */
  def probeStore(batch: DataFrame, bands: DataFrame,
                 shingles: DataFrame): DataFrame =
    probeStoreSh(graft.plans.Eager.ckpt(
      shingleSets(batch.dropDuplicates("doc_id"))), bands, shingles)

  /** [[probeStore]] over PRE-DERIVED batch shingle sets (`bsh` —
    * doc_id-distinct, materialized): the store-evolution certificates
    * probe one FIXED batch against three store generations, and the
    * batch's tokenize+shingle+checkpoint job is a pure function of the
    * batch alone — deriving it once and probing three times is the same
    * computation (r18, guide §2.4). */
  def probeStoreSh(bsh: DataFrame, bands: DataFrame,
                   shingles: DataFrame): DataFrame = {
    val cand = bands
      .withColumnRenamed("doc_id", "a_id")
      .join(bandsOf(bsh).withColumnRenamed("doc_id", "b_id"),
        Seq("bucket_key"))
      .select(col("a_id"), col("b_id")).distinct()
    val verified = cand
      .join(shingles.select(col("doc_id").as("a_id"), col("sh").as("a_sh")),
        "a_id")
      .join(bsh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")),
        "b_id")
      .select(col("b_id"), col("a_id"),
        jaccard(col("a_sh"), col("b_sh")).as("j"))
      .groupBy(col("b_id"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("j") >= JaccardMin, 1L).otherwise(0L)).as("n_matches"),
        max(when(col("j") >= JaccardMin, col("j"))).as("bj"),
        min(when(col("j") >= JaccardMin, col("a_id"))).as("bm"))
    bsh.select(col("doc_id"))
      .join(verified.withColumnRenamed("b_id", "doc_id"), Seq("doc_id"),
        "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        (round(coalesce(col("bj"), lit(0.0)), 6) + lit(0.0))
          .as("best_jaccard"),
        coalesce(col("bm"), lit(-1L)).as("best_match"),
        (coalesce(col("n_matches"), lit(0L)) > 0L).cast("int")
          .as("is_near_dup"))
  }

  // --------------------------------------------------------------- q435
  /** Registered store-probe entry, driving BOTH bucketed store tables
    * end to end each run — the batch twin the streaming gate
    * ([[graft.streaming.NearDupProbeStream]]) replays per micro-batch.
    * Store = the `documents` corpus; probe batch = q98's injections
    * (every 10th doc as a near-clone at +1e12 with a 3-token tail —
    * must flag against its original; every 7th doc token-remapped at
    * +2e12 — disjoint shingles, must stay clean). Output is the per-doc
    * admission report rather than q98's pair list: the row a live gate
    * acts on. The DuckDB oracle replays store ∪ batch through the
    * shared MinHash SQL fragment and aggregates the cross-side pairs
    * per batch doc — a hash match certifies the two-table store
    * round-trip, the banding arithmetic, and the verdict collapse. */
  def q435BandStoreProbe(spark: SparkSession, dir: String): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    val corpus = Kpis.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .repartition(par, col("doc_id"))
    val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
    val table = s"graft_q435_store$slug"
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_q435_store$slug"
    writeStore(corpus, table, path)
    val near = corpus.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(1000000000000L)).as("doc_id"),
        concat(col("text"), lit(" zz extra tail")).as("text"))
    val novel = corpus.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + lit(2000000000000L)).as("doc_id"),
        concat_ws(" ", transform(tokens(col("text")),
          t => concat(t, lit("_n9")))).as("text"))
    probeStore(near.unionAll(novel),
      spark.table(bandsTable(table)), spark.table(shinglesTable(table)))
      .orderBy("doc_id")
  }

  val q435Sql: String = {
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
       |${graft.queries.DocQueries.minhashPairsSqlFragment("corpus")},
       |agg AS (
       |  SELECT b_id AS doc_id, COUNT(*) AS n_candidates,
       |    CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_matches,
       |    MAX(CASE WHEN jaccard >= 0.5 THEN jaccard END) AS bj,
       |    MIN(CASE WHEN jaccard >= 0.5 THEN a_id END) AS bm
       |  FROM pairs
       |  WHERE a_id < 1000000000000 AND b_id >= 1000000000000
       |  GROUP BY 1),
       |batch AS (
       |  SELECT doc_id FROM corpus WHERE doc_id >= 1000000000000)
       |SELECT b.doc_id,
       |  CAST(COALESCE(n_candidates, 0) AS BIGINT) AS n_candidates,
       |  CAST(COALESCE(n_matches, 0) AS BIGINT) AS n_matches,
       |  round(COALESCE(bj, 0.0), 6) + 0.0 AS best_jaccard,
       |  CAST(COALESCE(bm, -1) AS BIGINT) AS best_match,
       |  CAST(CASE WHEN COALESCE(n_matches, 0) > 0 THEN 1 ELSE 0 END
       |    AS INTEGER) AS is_near_dup
       |FROM batch b LEFT JOIN agg USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q436
  /** Store EVOLUTION certificate (VERDICT r16 #2): q435 drives
    * overwrite-build + probe, and BandStoreLifecycleSpec proves
    * [[appendToStore]]/[[retireFromStore]] on toy rows — this registers
    * the full lifecycle as an oracle-checked query, the q340/q358
    * discipline applied to the two-table store. One FIXED probe batch
    * (a near-clone at +1e12 with a 3-token tail for every corpus doc ≡
    * 0 mod 4) is probed against three store GENERATIONS of the same
    * physical tables:
    *   phase 1 — generation 1 = docs ≡ 0,1 mod 3 (overwrite build);
    *   phase 2 — after [[appendToStore]] of the ≡ 2 mod 3 delta
    *     (probes whose original lives in the delta flip to near-dup);
    *   phase 3 — after [[retireFromStore]] of docs ≡ 0 mod 6 (a
    *     generation-1 cohort) and ≡ 2 mod 9 (a delta cohort) into the
    *     GC generation (probes whose only match was retired revert to
    *     clean; both append-then-retire transitions are populated).
    * Phase 1's verdicts are materialized eagerly (localCheckpoint)
    * BEFORE the append mutates the tables — the probe plan reads the
    * live store, so without the barrier all three phases would see the
    * final state.
    *
    * The DuckDB oracle replays the shared MinHash fragment ONCE over
    * corpus ∪ probes and re-aggregates per phase under a store-
    * MEMBERSHIP filter — valid because a doc's bands and shingle set
    * depend on nothing but the doc, so evolving the store only changes
    * WHICH store docs exist, never their band keys. A hash match
    * certifies append visibility, retire invisibility, bucket-
    * preserving round-trips, and the verdict collapse, phase by phase.
    *
    * Scale shape: three probes of the q435 plan (store sides bucketed,
    * batch pays 8 band rows + 1 shingle set per doc) plus one append
    * (delta-proportional) and one retire (two anti-join rewrites — the
    * GC generation swap, each half keeping its own bucketing). */
  def q436BandStoreEvolution(spark: SparkSession, dir: String)
      : DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    val d = Kpis.table(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("text"))
      .repartition(par, col("doc_id"))
    val gen1 = d.filter(col("doc_id") % 3 =!= 2)
    val delta = d.filter(col("doc_id") % 3 === 2)
    val retired = d.filter(col("doc_id") % 6 === 0 ||
      col("doc_id") % 9 === 2).select(col("doc_id"))
    val probe = d.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + lit(1000000000000L)).as("doc_id"),
        concat(col("text"), lit(" zz extra tail")).as("text"))
      .localCheckpoint(true)
    val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
    val table = s"graft_q436_store$slug"
    val gcTable = s"graft_q436_gc$slug"
    val tmp = System.getProperty("java.io.tmpdir")
    val path = s"$tmp/graft_q436_store$slug"
    val gcPath = s"$tmp/graft_q436_gc$slug"
    // the FIXED probe batch's shingle sets are derived once and reused
    // by all three phase probes (guide §2.4) — a doc's shingles depend
    // on nothing but the doc, so the three probes are byte-identical
    val probeSh = graft.plans.Eager.ckpt(
      shingleSets(probe.dropDuplicates("doc_id")))
    def probeNow(t: String) = probeStoreSh(probeSh,
      spark.table(bandsTable(t)), spark.table(shinglesTable(t)))
    writeStore(gen1, table, path)
    val p1 = probeNow(table).withColumn("phase", lit(1))
      .localCheckpoint(true)
    appendToStore(delta, table, path)
    val p2 = probeNow(table).withColumn("phase", lit(2))
      .localCheckpoint(true)
    retireFromStore(spark, table, retired, gcTable, gcPath)
    val p3 = probeNow(gcTable).withColumn("phase", lit(3))
    p1.unionAll(p2).unionAll(p3)
      .select(col("phase"), col("doc_id"), col("n_candidates"),
        col("n_matches"), col("best_jaccard"), col("best_match"),
        col("is_near_dup"))
      .orderBy("phase", "doc_id")
  }

  val q436Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE length(trim(text)) > 0),
       |probe AS (
       |  SELECT doc_id + 1000000000000 AS doc_id,
       |    text || ' zz extra tail' AS text
       |  FROM d WHERE doc_id % 4 = 0),
       |corpus AS (SELECT * FROM d UNION ALL SELECT * FROM probe),
       |${graft.queries.DocQueries.minhashPairsSqlFragment("corpus")},
       |cp AS (
       |  SELECT a_id, b_id, jaccard FROM pairs
       |  WHERE a_id < 1000000000000 AND b_id >= 1000000000000),
       |phases(phase) AS (VALUES (1), (2), (3)),
       |member AS (
       |  SELECT p.phase, dd.doc_id FROM d dd CROSS JOIN phases p
       |  WHERE (p.phase = 1 AND dd.doc_id % 3 <> 2)
       |     OR p.phase = 2
       |     OR (p.phase = 3
       |         AND NOT (dd.doc_id % 6 = 0 OR dd.doc_id % 9 = 2))),
       |agg AS (
       |  SELECT m.phase, c.b_id AS doc_id, COUNT(*) AS n_candidates,
       |    CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_matches,
       |    MAX(CASE WHEN jaccard >= 0.5 THEN jaccard END) AS bj,
       |    MIN(CASE WHEN jaccard >= 0.5 THEN a_id END) AS bm
       |  FROM cp c JOIN member m ON m.doc_id = c.a_id
       |  GROUP BY 1, 2),
       |bp AS (
       |  SELECT p.phase, b.doc_id
       |  FROM (SELECT doc_id FROM probe) b CROSS JOIN phases p)
       |SELECT CAST(b.phase AS INTEGER) AS phase, b.doc_id,
       |  CAST(COALESCE(n_candidates, 0) AS BIGINT) AS n_candidates,
       |  CAST(COALESCE(n_matches, 0) AS BIGINT) AS n_matches,
       |  round(COALESCE(bj, 0.0), 6) + 0.0 AS best_jaccard,
       |  CAST(COALESCE(bm, -1) AS BIGINT) AS best_match,
       |  CAST(CASE WHEN COALESCE(n_matches, 0) > 0 THEN 1 ELSE 0 END
       |    AS INTEGER) AS is_near_dup
       |FROM bp b LEFT JOIN agg a
       |  ON a.phase = b.phase AND a.doc_id = b.doc_id
       |ORDER BY b.phase, b.doc_id""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q435_band_store_probe", q435BandStoreProbe _, q435Sql),
    Query("q436_band_store_evolution", q436BandStoreEvolution _, q436Sql))
}
