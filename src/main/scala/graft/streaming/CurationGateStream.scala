package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Query
import graft.functions.TextFunctions
import graft.operators.{BandStore, IncrementalDedup}
import graft.plans.Overlap
import graft.queries.Kpis

/** The composed LIVE curation pipeline (VERDICT r16 #1) — every
  * per-document gate the batch chain certifies (q432's ordering),
  * chained inside ONE admission function a stream replays per
  * micro-batch: quality (q23) → perplexity (q59/q391, frozen LM) →
  * self-repetition (q393) → span contamination (q352, frozen benchmark
  * index) → exact-hash probe (q94's bucketed fingerprint store) →
  * near-dup probe (q435's two-table band store). One verdict row per
  * document with the DROPPING stage named — the artifact an intake
  * pipeline logs and acts on.
  *
  * What composes and what doesn't: the four closure gates and the two
  * store probes are all PER-DOCUMENT functions of (document, frozen
  * artifacts), so their composition is too — the output is a pure
  * function of the delivered doc set, independent of micro-batch
  * splits (LiveGateStreamSpec replays the same log under different
  * splits). q432's two ELECTION stages (exact keep-min, near-dup
  * cluster collapse) are deliberately NOT here: electing a
  * representative among in-flight arrivals would make one doc's
  * verdict depend on its batch-mates, destroying split invariance —
  * cross-arrival elections belong to the batch compaction pass (q432),
  * which this gate's stage ORDER mirrors so the two ledgers read side
  * by side. Stage order matters exactly as q430/q432 proved: the
  * contamination gate precedes both dedup probes, so a contaminated
  * duplicate is dropped as CONTAMINATED (and never admitted to either
  * store), keeping the store's elected representatives clean by
  * construction.
  *
  * Frozen artifacts, one per gate, each with its registered batch twin:
  * the unigram scoring LM ([[AdmissionStream.lmIndex]], topV-capped in
  * production), the benchmark position index
  * ([[ContamStream.benchIndex]], BF-capped), the bucketed fingerprint
  * store ([[IncrementalDedup]]), and the two bucketed band-store tables
  * ([[BandStore]]). Generation discipline as ever: all are resolved
  * before `start`; admitting a new generation is an explicit restart.
  *
  * Scale shape per micro-batch: the closure gates are O(tokens) per doc
  * against broadcast-closure artifacts (zero shuffle, zero state); the
  * fingerprint semi/anti joins and the band probe ride the stores'
  * bucketed scans exchange-free, so only the micro-batch pays
  * shuffles. No state store, no watermark. */
object CurationGateStream {

  val QualityMin: Double = AdmissionStream.QualityMin
  val NllMax: Double = AdmissionStream.NllMax

  /** q437's perplexity operating point. The fixture vocabulary is small
    * and heavy-tailed-less (31 tokens, worst in-vocab surprisal ≈ 6.9
    * across all SFs) so the frozen-LM OOV floor sits at ≈ 7.5-7.6 —
    * q400's self-trained 8.0 is structurally unreachable under a frozen
    * LM (no document can score above the floor). 7.2 sits between the
    * two, exactly how a production CCNet-style gate is tuned against
    * ITS scoring LM: every all-OOV arrival fails, every in-vocab-only
    * arrival passes the gate on LM grounds. */
  val Q437NllMax: Double = 7.2

  final case class ClosureRow(doc_id: Long, norm: String, n_tokens: Long,
      stage: String)

  /** One verdict row (doc_id, n_tokens, drop_stage, admitted) per
    * distinct document of `batch` (doc_id, text) against the frozen
    * artifacts. `drop_stage` names the FIRST failing gate in q432's
    * order — quality / perplexity / loop_gate / contam_gate /
    * exact_dedup / near_dup — or '' when admitted. Empty documents
    * fail `quality` (a zero-token doc scores no composite). `nllMax`
    * is the perplexity operating point: q391's grid showed the cut is
    * LM-RELATIVE, and a frozen scoring LM shifts the scale — its OOV
    * floor is min-lp − ln 2, so the threshold must sit between the
    * corpus' worst in-vocab surprisal and that floor (q400's 8.0 only
    * works for a SELF-trained LM where gibberish is in-vocab at
    * singleton probability). */
  def verdicts(batch: DataFrame, lp: Map[String, Double], floor: Double,
      contamIndex: Map[String, Array[(Long, Int)]], fpStore: DataFrame,
      bands: DataFrame, shingles: DataFrame,
      nllMax: Double = NllMax): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    // the four closure gates in one pass: per-doc O(tokens) work against
    // broadcast-closure artifacts, with the normalized text kept for the
    // store probes downstream
    val closure = graft.plans.Eager.ckpt(
      batch.select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .dropDuplicates("doc_id")
        .as[(Long, String)]
        .map { case (id, text) =>
          val toks = AdmissionStream.tokenize(text)
          val stage =
            if (toks.isEmpty || AdmissionStream.quality(toks) < QualityMin)
              "quality"
            else {
              val nll = AdmissionStream.snap(
                -toks.iterator.map(t => lp.getOrElse(t, floor)).sum /
                  toks.length, 6) + 0.0
              if (nll > nllMax) "perplexity"
              else if (AdmissionStream.hasLoop(toks)) "loop_gate"
              else if (ContamStream.contaminated(toks, contamIndex))
                "contam_gate"
              else ""
            }
          ClosureRow(id, toks.mkString(" "), toks.length.toLong, stage)
        }.toDF())
    val surv = closure.filter(col("stage") === "")
      .withColumn("fp", TextFunctions.fingerprint(col("norm")))
    val exactHit = surv.join(fpStore.select("fp"), Seq("fp"), "left_semi")
      .select(col("doc_id"), lit("exact_dedup").as("pstage"))
    val near = BandStore.probeStore(
        surv.join(fpStore.select("fp"), Seq("fp"), "left_anti")
          .select(col("doc_id"), col("norm").as("text")),
        bands, shingles)
      .filter(col("is_near_dup") === 1)
      .select(col("doc_id"), lit("near_dup").as("pstage"))
    closure.join(exactHit.unionAll(near), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        when(col("stage") =!= "", col("stage"))
          .otherwise(coalesce(col("pstage"), lit(""))).as("drop_stage"))
      .withColumn("admitted", (col("drop_stage") === lit("")).cast("int"))
  }

  /** Start the live gate: [[verdicts]] per micro-batch of `docs`
    * (doc_id, text) against the frozen artifacts, written through
    * [[VerdictSink]] (replay dedup needs a durable `checkpointLocation`). */
  def start(docs: DataFrame, lp: Map[String, Double], floor: Double,
      contamIndex: Map[String, Array[(Long, Int)]], fpStore: DataFrame,
      bands: DataFrame, shingles: DataFrame, outPath: String,
      checkpointLocation: Option[String] = None,
      nllMax: Double = NllMax): StreamingQuery =
    VerdictSink.start(docs, outPath, checkpointLocation)(
      verdicts(_, lp, floor, contamIndex, fpStore, bands, shingles, nllMax))

  // --------------------------------------------------------------- q437
  /** Registered batch replay of the composed gate — the oracle-checked
    * certificate that the LIVE chain computes q432's stage semantics.
    * The frozen generation derives from the fixture: benchmark = docs ≡
    * 7 mod 10 (the q352/q400 split), store corpus = the body (LM over
    * its full vocab, fingerprint store, band store). Seven deterministic
    * arrival cohorts give every stage prey, offsets k·10¹¹:
    *   +1 — first-3-tokens truncations of body ≡ 1 mod 7 (quality);
    *   +2 — 40 doc-unique gibberish tokens from ≡ 4 mod 9 (all-OOV →
    *        floor-scored, fails perplexity);
    *   +3 — ≡ 5 mod 8 with 3 copies of their first 10 tokens appended
    *        (q400's loop injection, as an ARRIVAL);
    *   +4 — ≡ 3 mod 10 with their paired benchmark's first 30 tokens
    *        appended (contamination);
    *   +5 — verbatim re-deliveries of ≡ 0 mod 6 (exact store hit);
    *   +6 — ≡ 2 mod 6 with a 3-token doc-unique tail (near-dup);
    *   +7 — TOKEN-REVERSED ≡ 0 mod 11 (same unigram mass and quality
    *        as the original, disjoint shingles — the admitted cohort).
    * A cohort doc that happens to fail an EARLIER gate (a naturally
    * low-quality body doc re-delivered verbatim, say) is named by that
    * earlier stage in both engines — the chain order IS the contract.
    * The DuckDB oracle replays the frozen artifacts and all six gates
    * relationally (the proven q23/q59/q393/q352/q19 spellings + the
    * shared MinHash fragment with a cross-side filter). */
  def q437LiveGateReplay(spark: SparkSession, dir: String): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    // ONE tokenize pass (r17): the corpus checkpoint materializes the
    // tokenized rows once; the bench/body halves are filters over the
    // in-memory blocks (previously each half's own checkpoint re-ran the
    // scan+tokenize job for its side).
    val d = Kpis.table(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("text"),
        TextFunctions.tokens(lower(col("text"))).as("toks"))
      .repartition(par, col("doc_id"))
      .localCheckpoint(true)
    val bench = d.filter(col("doc_id") % 10 === 7)
    val body = d.filter(col("doc_id") % 10 =!= 7)

    // frozen artifacts (fixture-scale: full vocab, whole benchmark;
    // production caps the LM with lmIndex's topV), built concurrently
    // with the arrivals materialization below — see the pool note there.
    val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
    val tmp = System.getProperty("java.io.tmpdir")
    val fpTable = s"graft_q437_fp$slug"
    val bandTable = s"graft_q437_band$slug"
    // the seven arrival cohorts (did0 = the pre-offset id captured as a
    // real column — the q400/q432 stage-0 lateral-alias note)
    val tagged = body.select(col("doc_id"), col("toks"),
      col("doc_id").cast("string").as("did0"))
    val c1 = body.filter(col("doc_id") % 7 === 1 && size(col("toks")) >= 3)
      .select((col("doc_id") + lit(100000000000L)).as("doc_id"),
        slice(col("toks"), 1, 3).as("toks"))
    val c2 = tagged.filter(col("doc_id") % 9 === 4)
      .select((col("doc_id") + lit(200000000000L)).as("doc_id"),
        transform(sequence(lit(1), lit(40)),
          i => concat(lit("ng"), col("did0"), lit("_"), i.cast("string")))
          .as("toks"))
    val c3 = body.filter(col("doc_id") % 8 === 5 && size(col("toks")) >= 10)
      .select((col("doc_id") + lit(300000000000L)).as("doc_id"),
        concat(col("toks"), slice(col("toks"), 1, 10),
          slice(col("toks"), 1, 10), slice(col("toks"), 1, 10)).as("toks"))
    val c4 = body.filter(col("doc_id") % 10 === 3)
      .join(broadcast(bench.select((col("doc_id") - 4).as("doc_id"),
        col("toks").as("btoks"))), Seq("doc_id"))
      .select((col("doc_id") + lit(400000000000L)).as("doc_id"),
        concat(col("toks"), slice(col("btoks"), 1, 30)).as("toks"))
    val c5 = body.filter(col("doc_id") % 6 === 0)
      .select((col("doc_id") + lit(500000000000L)).as("doc_id"),
        col("toks"))
    val c6 = tagged.filter(col("doc_id") % 6 === 2)
      .select((col("doc_id") + lit(600000000000L)).as("doc_id"),
        concat(col("toks"), transform(sequence(lit(1), lit(3)),
          i => concat(lit("lg"), col("did0"), lit("_"), i.cast("string"))))
          .as("toks"))
    val c7 = body.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + lit(700000000000L)).as("doc_id"),
        reverse(col("toks")).as("toks"))
    val arrivalsPlan = c1.unionAll(c2).unionAll(c3).unionAll(c4)
      .unionAll(c5).unionAll(c6).unionAll(c7)
      .select(col("doc_id"), array_join(col("toks"), " ").as("text"))
      .repartition(par, col("doc_id"))

    // the four artifact builds and the arrivals materialization are five
    // mutually independent jobs over the one corpus checkpoint, so they
    // overlap through nested Overlap.two calls (guide §2.6 — actions are
    // only sequential because the driver calls them sequentially): each
    // job's task tail and driver-side gaps (two collects, four write
    // commits) stop idling the cores the next job wants. Measured isolated
    // at sf0.1: 8.4–8.9 s sequential → 7.1–8.6 s overlapped (the overlap,
    // not the shared checkpoint, carries the win — the
    // sequential-with-ckpt control measured 8.7–9.3). Results are
    // byte-identical — the same five jobs, just concurrent.
    val (((lp, floor), contamIdx), (_, arrivals)) = Overlap.two(
      Overlap.two(
        AdmissionStream.lmIndex(body.select(col("doc_id"), col("toks"))),
        ContamStream.benchIndex(bench.select(col("doc_id"), col("text")))),
      Overlap.two(
        Overlap.two(
          IncrementalDedup.writeStore(
            body.select(TextFunctions.fingerprint(col("text")).as("fp")),
            fpTable, s"$tmp/$fpTable"),
          BandStore.writeStore(
            body.select(col("doc_id"),
              array_join(col("toks"), " ").as("text")),
            bandTable, s"$tmp/$bandTable")),
        arrivalsPlan.localCheckpoint(true)))

    verdicts(arrivals, lp, floor, contamIdx, spark.table(fpTable),
      spark.table(BandStore.bandsTable(bandTable)),
      spark.table(BandStore.shinglesTable(bandTable)), Q437NllMax)
      .orderBy("doc_id")
  }

  val q437Sql: String = {
    import graft.queries.SubstringQueries.{BF, K, L}
    s"""WITH d AS (
       |  SELECT doc_id,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |bench AS (SELECT * FROM d WHERE doc_id % 10 = 7),
       |body AS (SELECT * FROM d WHERE doc_id % 10 != 7),
       |vocab AS (
       |  SELECT token, COUNT(*) AS cnt
       |  FROM (SELECT unnest(toks) AS token FROM body) GROUP BY 1),
       |lp AS (
       |  SELECT token,
       |    round(ln(cnt::DOUBLE / (SELECT SUM(cnt) FROM vocab)), 9) AS lp
       |  FROM vocab),
       |flo AS (SELECT round(min(lp) - ln(2), 9) AS floor FROM lp),
       |fps AS (
       |  SELECT DISTINCT md5(array_to_string(toks, ' ')) AS fp
       |  FROM body),
       |c1 AS (
       |  SELECT doc_id + 100000000000 AS doc_id, toks[1:3] AS toks
       |  FROM body WHERE doc_id % 7 = 1 AND len(toks) >= 3),
       |c2 AS (
       |  SELECT bb.doc_id + 200000000000 AS doc_id,
       |    list_transform(range(1, 41),
       |      i -> 'ng' || CAST(bb.doc_id AS VARCHAR) || '_'
       |        || CAST(i AS VARCHAR)) AS toks
       |  FROM body bb WHERE bb.doc_id % 9 = 4),
       |c3 AS (
       |  SELECT doc_id + 300000000000 AS doc_id,
       |    toks || toks[1:10] || toks[1:10] || toks[1:10] AS toks
       |  FROM body WHERE doc_id % 8 = 5 AND len(toks) >= 10),
       |c4 AS (
       |  SELECT w.doc_id + 400000000000 AS doc_id,
       |    w.toks || b.toks[1:30] AS toks
       |  FROM body w JOIN bench b ON b.doc_id = w.doc_id + 4
       |  WHERE w.doc_id % 10 = 3),
       |c5 AS (
       |  SELECT doc_id + 500000000000 AS doc_id, toks
       |  FROM body WHERE doc_id % 6 = 0),
       |c6 AS (
       |  SELECT bb.doc_id + 600000000000 AS doc_id,
       |    bb.toks || list_transform(range(1, 4),
       |      i -> 'lg' || CAST(bb.doc_id AS VARCHAR) || '_'
       |        || CAST(i AS VARCHAR)) AS toks
       |  FROM body bb WHERE bb.doc_id % 6 = 2),
       |c7 AS (
       |  SELECT doc_id + 700000000000 AS doc_id,
       |    list_reverse(toks) AS toks
       |  FROM body WHERE doc_id % 11 = 0),
       |arr AS MATERIALIZED (
       |  SELECT * FROM c1 UNION ALL SELECT * FROM c2
       |  UNION ALL SELECT * FROM c3 UNION ALL SELECT * FROM c4
       |  UNION ALL SELECT * FROM c5 UNION ALL SELECT * FROM c6
       |  UNION ALL SELECT * FROM c7),
       |q AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |    least(1.0, CAST(len(toks) AS DOUBLE) / 100.0) * 0.4
       |      + (1.0 - CAST(len(list_filter(toks, t -> t IN ('the', 'a')))
       |          AS DOUBLE) / len(toks)) * 0.3
       |      + least(1.0, CAST(length(array_to_string(toks, ' '))
       |          AS DOUBLE) / 500.0) * 0.3 AS quality
       |  FROM arr),
       |anll AS (
       |  SELECT a.doc_id,
       |    round(-avg(COALESCE(l.lp, f.floor)), 6) + 0.0 AS avg_nll
       |  FROM (SELECT doc_id, unnest(toks) AS token FROM arr) a
       |  LEFT JOIN lp l USING (token) CROSS JOIN flo f
       |  GROUP BY 1),
       |afps AS MATERIALIZED (
       |  SELECT doc_id, p,
       |    md5(array_to_string(toks[p + 1 : p + $K], ' ')) AS fp
       |  FROM (SELECT doc_id, toks,
       |          unnest(generate_series(0, len(toks) - $K)) AS p
       |        FROM arr WHERE len(toks) >= $K)),
       |loopd AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id, prd, iid, COUNT(*) AS rl
       |    FROM (SELECT doc_id, prd, p,
       |            p - row_number() OVER
       |              (PARTITION BY doc_id, prd ORDER BY p) AS iid
       |          FROM (SELECT doc_id, p, pn - p AS prd
       |                FROM (SELECT doc_id, p, lead(p) OVER
       |                        (PARTITION BY doc_id, fp ORDER BY p) AS pn
       |                      FROM afps)
       |                WHERE pn IS NOT NULL))
       |    GROUP BY doc_id, prd, iid
       |    HAVING COUNT(*) + ${K - 1} >= $L)),
       |bpos AS MATERIALIZED (
       |  SELECT md5(array_to_string(toks[p + 1 : p + $K], ' ')) AS fp,
       |    doc_id AS bench_id, p AS bp
       |  FROM (SELECT doc_id, toks,
       |          unnest(generate_series(0, len(toks) - $K)) AS p
       |        FROM bench WHERE len(toks) >= $K)),
       |bkeep AS (SELECT fp FROM bpos GROUP BY fp HAVING COUNT(*) <= $BF),
       |bprobe AS (SELECT * FROM bpos JOIN bkeep USING (fp)),
       |contamd AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id, bench_id, diag, iid, COUNT(*) AS rl
       |    FROM (SELECT c.doc_id, b.bench_id, c.p - b.bp AS diag, c.p,
       |            c.p - row_number() OVER (PARTITION BY c.doc_id,
       |              b.bench_id, c.p - b.bp ORDER BY c.p) AS iid
       |          FROM afps c JOIN bprobe b USING (fp))
       |    GROUP BY doc_id, bench_id, diag, iid
       |    HAVING COUNT(*) + ${K - 1} >= $L)),
       |exactd AS (
       |  SELECT doc_id FROM arr
       |  WHERE md5(array_to_string(toks, ' ')) IN (SELECT fp FROM fps)),
       |corpus2 AS (
       |  SELECT doc_id, array_to_string(toks, ' ') AS text FROM body
       |  UNION ALL
       |  SELECT doc_id, array_to_string(toks, ' ') FROM arr),
       |${graft.queries.DocQueries.minhashPairsSqlFragment("corpus2")},
       |neard AS (
       |  SELECT DISTINCT b_id AS doc_id FROM pairs
       |  WHERE a_id < 100000000000 AND b_id >= 100000000000
       |    AND jaccard >= 0.5)
       |SELECT q.doc_id, q.n_tokens,
       |  CASE WHEN q.quality < 0.5 THEN 'quality'
       |       WHEN n.avg_nll > $Q437NllMax THEN 'perplexity'
       |       WHEN q.doc_id IN (SELECT doc_id FROM loopd)
       |         THEN 'loop_gate'
       |       WHEN q.doc_id IN (SELECT doc_id FROM contamd)
       |         THEN 'contam_gate'
       |       WHEN q.doc_id IN (SELECT doc_id FROM exactd)
       |         THEN 'exact_dedup'
       |       WHEN q.doc_id IN (SELECT doc_id FROM neard)
       |         THEN 'near_dup'
       |       ELSE '' END AS drop_stage,
       |  CAST(CASE WHEN q.quality >= 0.5 AND n.avg_nll <= $Q437NllMax
       |    AND q.doc_id NOT IN (SELECT doc_id FROM loopd)
       |    AND q.doc_id NOT IN (SELECT doc_id FROM contamd)
       |    AND q.doc_id NOT IN (SELECT doc_id FROM exactd)
       |    AND q.doc_id NOT IN (SELECT doc_id FROM neard)
       |    THEN 1 ELSE 0 END AS INTEGER) AS admitted
       |FROM q JOIN anll n USING (doc_id)
       |ORDER BY q.doc_id""".stripMargin
  }

  def queries: Seq[Query] = Seq(
    Query("q437_live_gate_replay", q437LiveGateReplay _, q437Sql))
}
