package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions.{dotL, featureHashVec}

/** The RETRIEVAL-INDEX layer over the `documents` table — what a user does
  * with a curated corpus next: cut it into overlapping passages, featurize
  * them, and serve similarity queries against the passage index (the RAG
  * shape; reference scope: the same documents/embeddings tables its
  * dedup/ANN queries run on, lifted from document to passage granularity).
  *
  * Chunking: fixed-size sliding window — C = 24 tokens, stride S = 16
  * (8-token overlap), a trailing window is emitted only when it retains
  * MinTail = 8 tokens (or is the document's only window). Featurization:
  * the feature-hashing trick (Weinberger et al. 2009, public): token →
  * dimension via md5-60-bit hash mod D = 32, sign from hash bit 5, chunk
  * vector = signed token-count histogram. INTEGER vectors throughout —
  * dots and norms are exact int64 arithmetic on both engines (no FP-order
  * convention needed; only the final cosine performs FP ops, spelled
  * identically on both sides).
  *
  * Scale posture: chunking + featurization are pure per-row array
  * expressions (codegen'd HOFs, zero shuffle — the index build is
  * embarrassingly parallel and the chunk table writes out partitioned by
  * whatever the sink buckets on). Retrieval queries broadcast the BOUNDED
  * query side and stream the index (q21's discipline); the production
  * path for unbounded query sets is the banded signature index whose
  * health q445 measures.
  */
object RetrievalQueries {

  /** Chunk size (tokens). */
  private[graft] val C = 24
  /** Stride between window starts; C − S = 8 tokens of overlap. */
  private val S = 16
  /** A trailing window must keep at least this many tokens. */
  private val MinTail = 8
  /** Feature-hash dimensions. */
  private[graft] val D = 32
  /** Query/anchor slice bound (q26's CertSliceMax discipline): ABOVE every
    * real fixture id (documents ≤ 4999, embeddings ≤ 1999 at sf0.1), so
    * it is a no-op at every correctness scale — but it pins the
    * modulus-cohort CARDINALITY constant on ScaleStress clone corpora
    * (clone ids start at 10¹²), keeping the broadcast-side of the
    * brute-force certificates fixed while the index side grows. The
    * unbounded production path is the banded index (q445 / q28). */
  private val QuerySliceMax = 1000000L

  private def tokDocs(spark: SparkSession, dir: String): DataFrame =
    Kpis.table(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))

  /** Sliding-window chunk rows (doc_id, chunk_id, t0, ctoks) from a
    * (doc_id, toks) frame. Start positions 0, S, 2S, … < n; a non-initial
    * window is kept only when ≥ MinTail tokens remain. Pure array ops —
    * no shuffle. */
  private def chunked(toksDf: DataFrame): DataFrame = {
    val starts = filter(
      sequence(lit(0), size(col("toks")) - 1, lit(S)),
      s => (s === 0) || (size(col("toks")) - s >= MinTail))
    toksDf
      .select(col("doc_id"), col("toks"),
        posexplode(starts).as(Seq("chunk_id", "t0")))
      .select(col("doc_id"), col("chunk_id"), col("t0"),
        slice(col("toks"), col("t0") + 1, lit(C)).as("ctoks"))
  }

  /** SQL twin of [[chunked]] from a tokens CTE `$toksCte` (doc_id, toks):
    * CTEs ending in `ck$sfx` (doc_id, chunk_id, t0, ctoks; t0/chunk_id
    * INTEGER). */
  private def chunkSql(toksCte: String, sfx: String): String =
    s"""st$sfx AS (
      |  SELECT doc_id, toks, unnest(range(0, len(toks), $S)) AS s0
      |  FROM $toksCte),
      |fs$sfx AS (
      |  SELECT doc_id, toks, s0,
      |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s0) - 1
      |      AS INTEGER) AS chunk_id
      |  FROM st$sfx WHERE s0 = 0 OR len(toks) - s0 >= $MinTail),
      |ck$sfx AS (
      |  SELECT doc_id, chunk_id, CAST(s0 AS INTEGER) AS t0,
      |    toks[s0 + 1 : s0 + $C] AS ctoks
      |  FROM fs$sfx)""".stripMargin

  private def tokSql: String =
    """SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |FROM documents WHERE length(trim(text)) > 0""".stripMargin

  /** Feature-hash encoding of one token: dimension = md5-60-bit hash mod D,
    * sign from hash bit 5 (+1 when clear). */
  private def dimOf(h: Column): Column = (h % D).cast("int")
  private def signOf(h: Column): Column =
    when(shiftright(h, 5).bitwiseAND(lit(1L)) === lit(0L), lit(1L))
      .otherwise(lit(-1L))

  /** Chunk vector: D-length signed token-count histogram (array<bigint>),
    * built per row — zero shuffle. Native codegen'd
    * [[graft.functions.VectorFunctions.featureHashVec]] over the per-token
    * md5-60 hashes (r17 optimization: the HOF fold paid O(tokens·D)
    * interpreted lambda steps and hashed every token TWICE — once for the
    * dimension, once for the sign; bit-identical law asserted in
    * IntVecExprSpec against [[chunkVecHof]]). */
  private def chunkVec(ctoks: Column): Column =
    featureHashVec(transform(ctoks, t => md5Hash60(t)), D)

  /** Executable HOF specification of [[chunkVec]] (the pre-r17 spelling,
    * kept for the bit-equality spec). */
  private[graft] def chunkVecHof(ctoks: Column): Column = {
    val enc = transform(ctoks, t =>
      struct(dimOf(md5Hash60(t)).as("d"), signOf(md5Hash60(t)).as("s")))
    aggregate(enc, array_repeat(lit(0L), D),
      (acc, e) => transform(acc, (v, i) =>
        v + when(e.getField("d") === i, e.getField("s")).otherwise(lit(0L))))
  }
  private[graft] def chunkVecNative(ctoks: Column): Column = chunkVec(ctoks)

  /** Dimension with the largest |weight| (smallest dim on ties); −1 when
    * the vector is all-zero (total sign cancellation). */
  private def topDim(vec: Column): Column = {
    val zipped = zip_with(vec, sequence(lit(0), lit(D - 1)),
      (w, i) => struct(abs(w).as("a"), i.as("d")))
    val nz = filter(zipped, e => e.getField("a") > 0)
    aggregate(nz, struct(lit(-1L).as("a"), lit(-1).as("d")),
      (b, e) => when(e.getField("a") > b.getField("a"), e).otherwise(b))
      .getField("d")
  }

  /** Exact integer squared L2 norm of the chunk vector (native codegen'd
    * int64 dot with itself — bit-identical to the left fold
    * `aggregate(vec, 0L, (a, x) -> a + x*x)`). */
  private def vecN2(vec: Column): Column = dotL(vec, vec)

  /** Per-group exact top-3 by (cos DESC, doc ASC, chunk ASC) through the
    * bounded [[graft.operators.TopK.topKLongPairs]] aggregate instead of
    * a row_number window (r17, the q168 discipline): the window form
    * shuffles and fully sorts every scored row of every query before
    * discarding all but 3, while the aggregate ships ≤ 3 pairs per group
    * per map partition. The ranking key is the cosine's order-isomorphic
    * IEEE-754 long ([[org.apache.spark.sql.graft.SortableDoubleBits]] —
    * bijective here: NaN/−0.0 are unreachable since both norms are
    * strictly positive), so key-DESC equals cos-DESC and the decoded
    * cosine is the bit-identical original. The id packs (doc_id,
    * chunk_id) as doc·2²⁰ + chunk — ascending ⟺ (doc, chunk) ascending —
    * which holds for every ranked corpus (doc ids < 2⁴², chunk index
    * < 2²⁰ ⟺ docs shorter than ~16M tokens). Tie order (key DESC, id
    * ASC) is exactly the window's (cos DESC, doc, chunk); the unchanged
    * DuckDB oracles re-prove value- and tie-identity hash-exactly. */
  private def top3ByCos(scored: DataFrame, groupCols: Seq[String])
      : DataFrame = {
    val packed = col("doc_id") * lit(1048576L) + col("chunk_id").cast("long")
    val g = groupCols.map(col)
    scored.groupBy(g: _*)
      .agg(graft.operators.TopK.topKLongPairs(
        org.apache.spark.sql.graft.ColumnShim.column(
          org.apache.spark.sql.graft.SortableDoubleBits(
            org.apache.spark.sql.graft.ColumnShim.expression(col("cos")))),
        packed, 3).as("top"))
      .select(g :+ posexplode(col("top")).as(Seq("i", "e")): _*)
      .select(g ++ Seq(
        (col("i") + 1).as("rank"),
        shiftright(col("e.id"), 20).as("doc_id"),
        col("e.id").bitwiseAND(lit(1048575L)).cast("int").as("chunk_id"),
        org.apache.spark.sql.graft.ColumnShim.column(
          org.apache.spark.sql.graft.SortableBitsToDouble(
            org.apache.spark.sql.graft.ColumnShim.expression(col("e.key"))))
          .as("cos")): _*)
  }

  /** SQL twin of the per-chunk dim-weight table from `ck$sfx`: CTE
    * `wt$sfx` (doc_id, chunk_id, dim INTEGER, w BIGINT) — one row per
    * dimension HIT by ≥1 token (weights may cancel to 0; dimensions never
    * hit have no row, which every consumer treats as w = 0). */
  private def wtSql(sfx: String): String =
    s"""tkn$sfx AS (
      |  SELECT doc_id, chunk_id, unnest(ctoks) AS t FROM ck$sfx),
      |hsh$sfx AS (
      |  SELECT doc_id, chunk_id, ${md5Hash60Sql("t")} AS h FROM tkn$sfx),
      |wt$sfx AS (
      |  SELECT doc_id, chunk_id, CAST(h % $D AS INTEGER) AS dim,
      |    CAST(SUM(CASE WHEN ((h >> 5) & 1) = 0 THEN 1 ELSE -1 END)
      |      AS BIGINT) AS w
      |  FROM hsh$sfx GROUP BY 1, 2, 3)""".stripMargin

  // ---------------------------------------------------------------- q441
  /** The passage-index manifest: one row per chunk with its start, length,
    * exact-text fingerprint, and feature-vector stats (squared norm,
    * non-zero dims, dominant dim).
    *
    * Exactness: everything is integer or md5 hex — the vector is a signed
    * integer histogram, n2 = Σw², nnz counts w ≠ 0, top_dim is the max-|w|
    * dim with smallest-dim tie-break (−1 on an all-cancelled vector); no
    * floating point anywhere.
    *
    * Scale shape: zero shuffle until the output sort — tokenize, window,
    * slice, hash, and fold are all per-row codegen'd array expressions;
    * the plan is Scan → Project → Sort. At 100 TB the index build is
    * scan-bound and the sort is the sink's own ordering choice. */
  def q441ChunkIndex(spark: SparkSession, dir: String): DataFrame =
    chunked(tokDocs(spark, dir))
      .withColumn("vec", chunkVec(col("ctoks")))
      .select(col("doc_id"), col("chunk_id"), col("t0"),
        size(col("ctoks")).as("n_toks"),
        md5(concat_ws(" ", col("ctoks"))).as("chunk_fp"),
        vecN2(col("vec")).as("n2"),
        size(filter(col("vec"), x => x =!= lit(0L))).as("nnz"),
        topDim(col("vec")).as("top_dim"))
      .orderBy("doc_id", "chunk_id")

  val q441Sql: String =
    s"""WITH d AS ($tokSql),
      |${chunkSql("d", "")},
      |${wtSql("")},
      |st2 AS (
      |  SELECT doc_id, chunk_id, CAST(SUM(w * w) AS BIGINT) AS n2,
      |    CAST(COUNT(*) FILTER (WHERE w != 0) AS INTEGER) AS nnz
      |  FROM wt GROUP BY 1, 2),
      |tp AS (
      |  SELECT doc_id, chunk_id, dim,
      |    row_number() OVER (PARTITION BY doc_id, chunk_id
      |      ORDER BY abs(w) DESC, dim) AS rn
      |  FROM wt WHERE w != 0)
      |SELECT ck.doc_id, ck.chunk_id, ck.t0,
      |  CAST(len(ck.ctoks) AS INTEGER) AS n_toks,
      |  md5(array_to_string(ck.ctoks, ' ')) AS chunk_fp,
      |  s.n2, s.nnz, COALESCE(t.dim, -1) AS top_dim
      |FROM ck JOIN st2 s USING (doc_id, chunk_id)
      |LEFT JOIN tp t ON t.doc_id = ck.doc_id AND t.chunk_id = ck.chunk_id
      |  AND t.rn = 1
      |ORDER BY ck.doc_id, ck.chunk_id""".stripMargin

  // ---------------------------------------------------------------- q442
  /** Passage retrieval eval: a deterministic query cohort (docs ≡ 3
    * mod 41 with ≥ 28 tokens) quotes tokens [4, 20) of itself as the
    * query text; each query retrieves its cosine top-3 chunks from the
    * q441 index. `self_hit` marks results drawn from the quoted document —
    * the retrieval sanity a RAG index must pass.
    *
    * Exactness: the dot product and both norms are exact int64 (the
    * hashing-trick vectors are integer histograms), so the ONLY FP op is
    * the final cosine — one cast, one multiply, one sqrt, one divide,
    * spelled identically on both engines → bit-identical doubles. Rank
    * ties break on (doc_id, chunk_id).
    *
    * Scale shape: the query cohort is modulus-bounded (q26's CertSlice
    * discipline) and BROADCAST; the index streams through one
    * BroadcastNestedLoopJoin — no shuffle of the index at all; the only
    * exchange is the per-query top-3 window over Q·N skinny score rows.
    * An unbounded production query stream flips to the banded-signature
    * equi-join whose bucket health q445 certifies. */
  def q442PassageRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val td = tokDocs(spark, dir)
    val qs = td.filter(col("doc_id") % 41 === 3 &&
        col("doc_id") < QuerySliceMax && size(col("toks")) >= 28)
      .select(col("doc_id").as("query_id"),
        slice(col("toks"), 4, 16).as("qtoks"))
      .withColumn("qvec", chunkVec(col("qtoks")))
      .select(col("query_id"), col("qvec"), vecN2(col("qvec")).as("qn2"))
      .filter(col("qn2") > 0)
      .localCheckpoint(true)
    val ch = chunked(td)
      .withColumn("vec", chunkVec(col("ctoks")))
      .select(col("doc_id"), col("chunk_id"), col("vec"),
        vecN2(col("vec")).as("n2"))
      .filter(col("n2") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // top-3 through the bounded aggregate (r17, see [[top3ByCos]]): the
    // former row_number window shuffled+sorted every scored pair; the
    // exact integer dot is re-attached to the 3·Q selected rows only
    val scored = ch.crossJoin(broadcast(qs))
      .withColumn("dot", dotL(col("vec"), col("qvec")))
      .withColumn("cos", col("dot").cast("double") /
        sqrt((col("qn2") * col("n2")).cast("double")))
      .select(col("query_id"), col("doc_id"), col("chunk_id"), col("cos"))
    val out = graft.plans.Eager.ckpt(top3ByCos(scored, Seq("query_id"))
      .join(ch.select(col("doc_id"), col("chunk_id"), col("vec")),
        Seq("doc_id", "chunk_id"))
      .join(broadcast(qs.select(col("query_id"), col("qvec"))), "query_id")
      .withColumn("dot", dotL(col("vec"), col("qvec")))
      .select(col("query_id"), col("rank"), col("doc_id"), col("chunk_id"),
        col("dot"), col("cos"),
        (col("doc_id") === col("query_id")).as("self_hit"))
      .orderBy("query_id", "rank"))
    ch.unpersist()
    out
  }

  val q442Sql: String =
    s"""WITH d AS ($tokSql),
      |${chunkSql("d", "")},
      |${wtSql("")},
      |cst AS (
      |  SELECT doc_id, chunk_id, CAST(SUM(w * w) AS BIGINT) AS n2
      |  FROM wt GROUP BY 1, 2 HAVING SUM(w * w) > 0),
      |qd AS (
      |  SELECT doc_id AS query_id, toks[4 : 19] AS qtoks
      |  FROM d WHERE doc_id % 41 = 3 AND doc_id < $QuerySliceMax
      |    AND len(toks) >= 28),
      |qtk AS (SELECT query_id, unnest(qtoks) AS t FROM qd),
      |qh AS (SELECT query_id, ${md5Hash60Sql("t")} AS h FROM qtk),
      |qwt AS (
      |  SELECT query_id, CAST(h % $D AS INTEGER) AS dim,
      |    CAST(SUM(CASE WHEN ((h >> 5) & 1) = 0 THEN 1 ELSE -1 END)
      |      AS BIGINT) AS w
      |  FROM qh GROUP BY 1, 2),
      |qst AS (
      |  SELECT query_id, CAST(SUM(w * w) AS BIGINT) AS qn2
      |  FROM qwt GROUP BY 1 HAVING SUM(w * w) > 0),
      |dots AS (
      |  SELECT q.query_id, c.doc_id, c.chunk_id,
      |    CAST(SUM(q.w * c.w) AS BIGINT) AS dot
      |  FROM qwt q JOIN wt c USING (dim) GROUP BY 1, 2, 3),
      |pairs AS (
      |  SELECT q.query_id, c.doc_id, c.chunk_id, q.qn2, c.n2,
      |    COALESCE(dt.dot, 0) AS dot
      |  FROM qst q CROSS JOIN cst c
      |  LEFT JOIN dots dt ON dt.query_id = q.query_id
      |    AND dt.doc_id = c.doc_id AND dt.chunk_id = c.chunk_id),
      |scored AS (
      |  SELECT query_id, doc_id, chunk_id, dot,
      |    CAST(dot AS DOUBLE) / sqrt(CAST(qn2 * n2 AS DOUBLE)) AS cos
      |  FROM pairs),
      |rk AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY cos DESC, doc_id, chunk_id) AS INTEGER) AS rank
      |  FROM scored)
      |SELECT query_id, rank, doc_id, chunk_id, dot, cos,
      |  doc_id = query_id AS self_hit
      |FROM rk WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  // ----------------------------------------------------- planted corpus
  /** 24-token header/footer boilerplate literals, planted so the two
    * boilerplate detectors (q444 fixed-stride, q446 content-defined) have
    * known ground truth: the header PREPENDS (so it is window-aligned at
    * t0 = 0 in every variant), the footer APPENDS (so its fixed-stride
    * alignment depends on the host document's length — the miss mode the
    * q444/q446 comparison measures). */
  private val Hdr: String = (0 until 24).map(i => f"hdr$i%02d").mkString(" ")
  private val Ftr: String = (0 until 24).map(i => f"ftr$i%02d").mkString(" ")
  private val HdrOff = 2000000000000L
  private val FtrOff = 3000000000000L
  /** Boilerplate document-frequency threshold: a chunk fingerprint in ≥ B
    * distinct docs is template text, not content (organic chunk fps in
    * this corpus reach df ≤ 2 — a doc and its appended-footer variant
    * share their interior chunks). ONE spelling with the persisted store
    * ([[graft.operators.BoilerStore]], q450's operator). */
  private[graft] val B = graft.operators.BoilerStore.B
  /** CDC parameters — owned by the store operator since round 17 (q446
    * and the store must chunk identically). */
  private val CdcMinLen = graft.operators.BoilerStore.CdcMinLen

  /** documents ∪ header-prefixed variants of every doc ≡ 0 mod 5 (ids
    * +2e12) ∪ footer-suffixed variants of every doc ≡ 1 mod 5 (+3e12). */
  private def plantedToks(spark: SparkSession, dir: String): DataFrame = {
    val d = Kpis.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    d.unionAll(d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + HdrOff).as("doc_id"),
          concat_ws(" ", lit(Hdr), col("text")).as("text")))
      .unionAll(d.filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + FtrOff).as("doc_id"),
          concat_ws(" ", col("text"), lit(Ftr)).as("text")))
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
  }

  /** SQL twin of [[plantedToks]]: CTEs `pl` (planted corpus) and `d`
    * (doc_id, toks). */
  private val plantedTokSql: String =
    s"""pl AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + $HdrOff AS doc_id, '$Hdr' || ' ' || text AS text
      |  FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + $FtrOff AS doc_id, text || ' ' || '$Ftr' AS text
      |  FROM documents WHERE doc_id % 5 = 1),
      |d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      |  FROM pl WHERE length(trim(text)) > 0)""".stripMargin

  private def cohortCol: Column =
    when(col("doc_id") >= FtrOff, lit("ftr"))
      .when(col("doc_id") >= HdrOff, lit("hdr"))
      .otherwise(lit("base"))

  private val cohortSql: String =
    s"CASE WHEN doc_id >= $FtrOff THEN 'ftr' WHEN doc_id >= $HdrOff THEN 'hdr' ELSE 'base' END"

  // ---------------------------------------------------------------- q444
  /** Fixed-stride boilerplate removal census: chunks whose exact-text
    * fingerprint occurs in ≥ B distinct documents are template text; per
    * affected document, the interval union of its boilerplate windows
    * (q351's sweep — overlapping windows merge) gives the removable token
    * mass. Ground truth is planted: the PREPENDED header aligns at t0 = 0
    * in every header variant (detected at full strength), while the
    * APPENDED footer aligns with the 16-token stride grid only when the
    * host document's length ≡ 0 mod 16 — fixed-stride chunking
    * structurally misses unaligned boilerplate, which is exactly what the
    * q446 content-defined detector fixes.
    *
    * Exactness: intervals are integer [s, e]; the sweep is q351's exact
    * exclusive-running-max region numbering; the only double is the final
    * 6-dp-snapped removable fraction.
    *
    * Scale shape: chunking + fingerprinting are per-row array ops (zero
    * shuffle); the df census and the boiler join are fp-keyed hash
    * exchanges carrying (fp, doc_id, t0, len) — never chunk text; the
    * sweep windows partition per DOCUMENT (bounded by doc length / S);
    * all rollups are map-side-combinable. */
  def q444ChunkBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val ch = chunked(plantedToks(spark, dir))
      .select(col("doc_id"), col("t0"), size(col("ctoks")).as("cl"),
        md5(concat_ws(" ", col("ctoks"))).as("fp"))
    val boiler = ch.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= B).select(col("fp"))
    val bc = ch.join(boiler, "fp")
    val cover = SubstringQueries.intervalSweep(
      bc.select(col("doc_id"), col("t0").cast("long").as("s"),
        (col("t0") + col("cl") - 1).cast("long").as("e")))
    val nb = bc.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_boiler_chunks"))
    val lens = plantedToks(spark, dir)
      .select(col("doc_id"), size(col("toks")).cast("long").as("doc_tokens"))
    nb.join(cover, "doc_id").join(lens, "doc_id")
      .select(col("doc_id"), cohortCol.as("cohort"), col("n_boiler_chunks"),
        col("n_regions"), col("covered_tokens"), col("doc_tokens"),
        (round(col("covered_tokens").cast("double") /
          col("doc_tokens").cast("double"), 6) + lit(0.0))
          .as("removable_frac"))
      .orderBy("doc_id")
  }

  val q444Sql: String =
    s"""WITH $plantedTokSql,
      |${chunkSql("d", "")},
      |chf AS (
      |  SELECT doc_id, t0, CAST(len(ctoks) AS BIGINT) AS cl,
      |    md5(array_to_string(ctoks, ' ')) AS fp
      |  FROM ck),
      |boiler AS (
      |  SELECT fp FROM chf GROUP BY fp
      |  HAVING COUNT(DISTINCT doc_id) >= $B),
      |bc AS (SELECT c.* FROM chf c JOIN boiler USING (fp)),
      |spans AS (
      |  SELECT doc_id, CAST(t0 AS BIGINT) AS s, t0 + cl - 1 AS e FROM bc),
      |${SubstringQueries.sweepCte},
      |nb AS (SELECT doc_id, COUNT(*) AS n_boiler_chunks FROM bc GROUP BY 1),
      |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS doc_tokens FROM d)
      |SELECT n.doc_id, $cohortSql AS cohort,
      |  CAST(n.n_boiler_chunks AS BIGINT) AS n_boiler_chunks,
      |  CAST(c.n_regions AS BIGINT) AS n_regions, c.covered_tokens,
      |  l.doc_tokens,
      |  round(CAST(c.covered_tokens AS DOUBLE)
      |    / CAST(l.doc_tokens AS DOUBLE), 6) + 0.0 AS removable_frac
      |FROM nb n JOIN cov c USING (doc_id) JOIN lens l USING (doc_id)
      |ORDER BY n.doc_id""".stripMargin

  // ---------------------------------------------------------------- q446
  /** Content-defined chunking (CDC) boilerplate census — the rsync/LBFS
    * breakpoint idea applied to tokens: a token whose hash ≡ 0 mod 8 ends
    * a chunk, so chunk boundaries realign to CONTENT after any prefix
    * insertion. The planted footer (which q444's stride grid misses in
    * ~15/16 of its hosts) is cut into the SAME chunks in every footer
    * variant regardless of the host document's length, so CDC detects it
    * in every host. Output is the per-cohort census (base / hdr / ftr):
    * docs, docs with detected boilerplate, boilerplate chunks, covered
    * tokens — read beside q444's per-doc rows, it is the measured
    * fixed-stride-vs-CDC comparison.
    *
    * Exactness: all-integer (CDC chunks are disjoint, so coverage is a
    * plain sum — no sweep needed); fingerprints are md5 hex.
    *
    * Scale shape: chunk formation is a per-row array expression (break
    * positions → start/end zip — zero shuffle, same posture as q441); the
    * df census and boiler join are fp-keyed hash exchanges; the cohort
    * rollup is a 3-group map-side-combinable agg. */
  def q446CdcBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val td = plantedToks(spark, dir)
    val cch = graft.operators.BoilerStore.cdcChunks(td)
    val elig = cch.filter(col("cl") >= CdcMinLen)
    val boiler = elig.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= B).select(col("fp"))
    val perDoc = elig.join(boiler, "fp")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nb"), sum(col("cl")).as("cov"))
    td.select(col("doc_id"), cohortCol.as("cohort"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("nb")).as("docs_with_boiler"),
        coalesce(sum(col("nb")), lit(0L)).as("n_boiler_chunks"),
        coalesce(sum(col("cov")), lit(0L)).as("covered_tokens"))
      .orderBy("cohort")
  }

  val q446Sql: String =
    s"""WITH $plantedTokSql,
      |${graft.operators.BoilerStore.cdcChunkSql("d", "")},
      |elig AS (SELECT * FROM cch WHERE cl >= $CdcMinLen),
      |boiler AS (
      |  SELECT fp FROM elig GROUP BY fp
      |  HAVING COUNT(DISTINCT doc_id) >= $B),
      |pd AS (
      |  SELECT doc_id, COUNT(*) AS nb, SUM(cl) AS cov
      |  FROM elig JOIN boiler USING (fp) GROUP BY 1),
      |dc AS (SELECT doc_id, $cohortSql AS cohort FROM d)
      |SELECT dc.cohort, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(pd.nb) AS BIGINT) AS docs_with_boiler,
      |  CAST(COALESCE(SUM(pd.nb), 0) AS BIGINT) AS n_boiler_chunks,
      |  CAST(COALESCE(SUM(pd.cov), 0) AS BIGINT) AS covered_tokens
      |FROM dc LEFT JOIN pd USING (doc_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q443
  /** Semi-hard triplet mining over the `embeddings` table — the
    * contrastive-training data-prep operator (FaceNet's semi-hard
    * selection, public): for each anchor in a deterministic modulus
    * cohort, the POSITIVE is its highest-cosine same-label neighbor and
    * the NEGATIVE is the highest-cosine different-label vector that is
    * still farther than the positive (neg_cos < pos_cos); `in_margin`
    * marks negatives inside the 0.05 semi-hard band. Anchors lacking
    * either pick drop out (inner-join semantics on both engines).
    *
    * Exactness: cosines follow the q21 convention — float→double
    * element-exact products, sequential left fold, identical unrolled sum
    * in DuckDB → bit-identical doubles, so the `cos < pos_cos` cut and
    * both tie-breaks (candidate id) replay exactly.
    *
    * Scale shape: the modulus-bounded anchor side broadcasts (q21/q26's
    * CertSlice discipline) and the corpus streams through one BNLJ; both
    * picks are per-anchor top-1 windows over the scored rows (bounded by
    * corpus × |anchors|, all skinny id+double rows). An unbounded anchor
    * set flips to the sign-LSH banded candidate join (q28) with exact
    * re-scoring — the same plan swap every ANN query in this library
    * documents. */
  def q443SemiHardTriplets(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    val e = Kpis.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"),
        norm2(col("embedding")).as("n2"))
    val a = e.filter(col("vec_id") % 29 === 1 &&
        col("vec_id") < QuerySliceMax)
      .select(col("vec_id").as("a_id"), col("embedding").as("ae"),
        col("label").as("a_label"), col("n2").as("an2"))
    val sc = e.crossJoin(broadcast(a))
      .filter(col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("a_label"), col("vec_id").as("cand_id"),
        col("label").as("cand_label"),
        (dotD(col("ae"), col("embedding")) /
          (sqrt(col("an2")) * sqrt(col("n2")))).as("cos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    val pos = sc.filter(col("cand_label") === col("a_label"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("a_id"), col("a_label").as("label"),
        col("cand_id").as("pos_id"), col("cos").as("pos_cos"))
    val neg = sc.filter(col("cand_label") =!= col("a_label"))
      .join(pos.select(col("a_id"), col("pos_cos")), "a_id")
      .filter(col("cos") < col("pos_cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("a_id"), col("cand_id").as("neg_id"),
        col("cos").as("neg_cos"))
    val out = graft.plans.Eager.ckpt(pos.join(neg, "a_id")
      .select(col("a_id"), col("label"), col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_cos"),
        (col("pos_cos") - col("neg_cos")).as("gap"),
        (col("neg_cos") > col("pos_cos") - lit(0.05)).as("in_margin"))
      .orderBy("a_id"))
    sc.unpersist()
    out
  }

  val q443Sql: String = {
    import graft.functions.VectorFunctions.dotSqlUnrolled
    val dim = 64
    s"""WITH e AS (
      |  SELECT vec_id, embedding, label,
      |    ${dotSqlUnrolled("embedding", "embedding", dim)} AS n2
      |  FROM embeddings),
      |sc AS (
      |  SELECT a.vec_id AS a_id, a.label AS a_label,
      |    c.vec_id AS cand_id, c.label AS cand_label,
      |    (${dotSqlUnrolled("a.embedding", "c.embedding", dim)})
      |      / (sqrt(a.n2) * sqrt(c.n2)) AS cos
      |  FROM e a JOIN e c ON c.vec_id != a.vec_id
      |  WHERE a.vec_id % 29 = 1 AND a.vec_id < $QuerySliceMax),
      |posr AS (
      |  SELECT a_id, a_label, cand_id, cos,
      |    row_number() OVER (PARTITION BY a_id
      |      ORDER BY cos DESC, cand_id) AS rn
      |  FROM sc WHERE cand_label = a_label),
      |pos AS (
      |  SELECT a_id, a_label AS label, cand_id AS pos_id, cos AS pos_cos
      |  FROM posr WHERE rn = 1),
      |negr AS (
      |  SELECT s.a_id, s.cand_id, s.cos, p.pos_cos,
      |    row_number() OVER (PARTITION BY s.a_id
      |      ORDER BY s.cos DESC, s.cand_id) AS rn
      |  FROM sc s JOIN pos p ON p.a_id = s.a_id
      |  WHERE s.cand_label != s.a_label AND s.cos < p.pos_cos),
      |neg AS (
      |  SELECT a_id, cand_id AS neg_id, cos AS neg_cos
      |  FROM negr WHERE rn = 1)
      |SELECT p.a_id, p.label, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos,
      |  p.pos_cos - n.neg_cos AS gap,
      |  n.neg_cos > p.pos_cos - 0.05 AS in_margin
      |FROM pos p JOIN neg n ON p.a_id = n.a_id
      |ORDER BY p.a_id""".stripMargin
  }

  // ---------------------------------------------------------------- q445
  /** Banded-signature index health census for the q441 passage index —
    * the diagnostic that says whether the banded equi-join scale path
    * stays join-safe: 16 Rademacher ±1 sign-projection bits (random ±1
    * projections, Achlioptas 2001 — INTEGER dots over the integer chunk
    * vectors, so the signature replays order-free on both engines) cut
    * into 2 bands × 8 bits; per band, bucket-occupancy stats and the
    * EXACT candidate-pair mass Σ c·(c−1)/2 a band self-join would
    * generate — the quantity whose growth flags a skewed index at scale.
    *
    * Exactness: all-integer — weights, ternary dots (ties dot = 0 → bit
    * 0), bucket counts, pair mass (c·(c−1) is even, the /2 is exact in
    * double well below 2⁵³).
    *
    * Scale shape: signatures are per-row folds over the 32-dim vector
    * (zero shuffle); the census is two map-side-combinable aggs over
    * (band, band_val) keys. The per-band candidate mass is what
    * [[graft.functions.VectorFunctions.adaptiveBandBits]] keeps linear by
    * widening bands with corpus size; this census is its measured
    * counterpart at the passage granularity. */
  private def ternSigns(nPlanes: Int, dim: Int, seed: Long): Array[Array[Long]] = {
    var s = seed
    def next(): Long = {
      s = s * 6364136223846793005L + 1442695040888963407L
      if (((s >>> 20) & 1L) == 0L) 1L else -1L
    }
    Array.fill(nPlanes, dim)(next())
  }
  private val Planes: Array[Array[Long]] = ternSigns(16, D, 7L)

  def q445IndexBucketSkew(spark: SparkSession, dir: String): DataFrame = {
    val ch = chunked(tokDocs(spark, dir))
      .withColumn("vec", chunkVec(col("ctoks")))
    val sigExpr = Planes.zipWithIndex.map { case (p, j) =>
      val dj = dotL(col("vec"), typedLit(p.toSeq))
      when(dj > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    val bands = ch.select(sigExpr.as("sig"))
      .select(explode(array(
        struct(lit(0).as("band"),
          col("sig").bitwiseAND(lit(255L)).as("band_val")),
        struct(lit(1).as("band"),
          shiftright(col("sig"), 8).bitwiseAND(lit(255L)).as("band_val"))))
        .as("b"))
      .select(col("b.band").as("band"), col("b.band_val").as("band_val"))
    bands.groupBy(col("band"), col("band_val"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("c")).as("max_bucket"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("singleton_buckets"),
        sum(col("c")).as("total_chunks"),
        (sum(col("c") * (col("c") - 1)) / 2).cast("long").as("cand_pairs"))
      .orderBy("band")
  }

  val q445Sql: String = {
    val planeRows = Planes.zipWithIndex.flatMap { case (p, j) =>
      p.zipWithIndex.map { case (s, i) => s"($j, $i, $s)" }
    }.mkString(", ")
    s"""WITH d AS ($tokSql),
      |${chunkSql("d", "")},
      |${wtSql("")},
      |planes AS (SELECT * FROM (VALUES $planeRows) t(j, dim, s)),
      |dj AS (
      |  SELECT w.doc_id, w.chunk_id, p.j,
      |    CAST(SUM(w.w * p.s) AS BIGINT) AS dj
      |  FROM wt w JOIN planes p ON p.dim = w.dim GROUP BY 1, 2, 3),
      |sig AS (
      |  SELECT doc_id, chunk_id,
      |    CAST(SUM(CASE WHEN dj > 0 THEN (1::BIGINT << j) ELSE 0 END)
      |      AS BIGINT) AS sig
      |  FROM dj GROUP BY 1, 2),
      |bands AS (
      |  SELECT 0 AS band, sig & 255 AS band_val FROM sig
      |  UNION ALL
      |  SELECT 1 AS band, (sig >> 8) & 255 FROM sig),
      |bk AS (SELECT band, band_val, COUNT(*) AS c FROM bands GROUP BY 1, 2)
      |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_buckets,
      |  CAST(MAX(c) AS BIGINT) AS max_bucket,
      |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS singleton_buckets,
      |  CAST(SUM(c) AS BIGINT) AS total_chunks,
      |  CAST(CAST(SUM(c * (c - 1)) AS BIGINT) / 2 AS BIGINT) AS cand_pairs
      |FROM bk GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- q447
  /** The PRODUCTION retrieval path for the q441 index, certified against
    * the exact path: queries retrieve through the banded-signature
    * equi-join (a query is a candidate match for a chunk when they share
    * ≥ 1 of the 2 × 8-bit signature bands q445 censuses), candidates are
    * exactly re-scored, and the per-query report compares the banded
    * top-3 with the brute-force top-3 — `recall_at_3` is the MEASURED
    * quality of the approximate path on this corpus, the number a RAG
    * operator actually watches. n_cand / the q445 pair mass are the cost
    * side of the same dial.
    *
    * Exactness: signatures are ternary integer dots (order-free), band
    * matching is exact set intersection via the equi-join, re-scoring
    * reuses the integer-dot/one-FP-cosine convention, and recall is a
    * count of id-pairs in both top-3 sets — every column replays exactly.
    *
    * Scale shape: this is the plan that REPLACES q442's bounded BNLJ when
    * the query side is unbounded — both sides shuffle only on
    * (band, band_val) with skinny id rows, candidate volume is the q445
    * census's Σ c·(c−1)-bounded mass, and vectors are fetched back by id
    * for the deduped candidate set only. The exact-top-3 side retained
    * here is the CERTIFICATE (CertSlice-bounded, constant cost on clone
    * corpora); production drops it and keeps the banded chain. */
  def q447BandedRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val td = tokDocs(spark, dir)
    def sigOf(vecCol: Column): Column =
      Planes.zipWithIndex.map { case (p, j) =>
        val dj = dotL(vecCol, typedLit(p.toSeq))
        when(dj > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
    def bandsOf(sigCol: Column): Column = array(
      struct(lit(0).as("band"), sigCol.bitwiseAND(lit(255L)).as("band_val")),
      struct(lit(1).as("band"),
        shiftright(sigCol, 8).bitwiseAND(lit(255L)).as("band_val")))
    val ch = chunked(td)
      .withColumn("vec", chunkVec(col("ctoks")))
      .select(col("doc_id"), col("chunk_id"), col("vec"),
        vecN2(col("vec")).as("n2"), sigOf(col("vec")).as("sig"))
      .filter(col("n2") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qs = td.filter(col("doc_id") % 41 === 3 &&
        col("doc_id") < QuerySliceMax && size(col("toks")) >= 28)
      .select(col("doc_id").as("query_id"),
        slice(col("toks"), 4, 16).as("qtoks"))
      .withColumn("qvec", chunkVec(col("qtoks")))
      .select(col("query_id"), col("qvec"), vecN2(col("qvec")).as("qn2"),
        sigOf(col("qvec")).as("qsig"))
      .filter(col("qn2") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // banded candidates: equi-join on (band, band_val), skinny id rows
    val cb = ch.select(col("doc_id"), col("chunk_id"),
      explode(bandsOf(col("sig"))).as("b"))
      .select(col("doc_id"), col("chunk_id"),
        col("b.band").as("band"), col("b.band_val").as("band_val"))
    val qb = qs.select(col("query_id"), explode(bandsOf(col("qsig"))).as("b"))
      .select(col("query_id"),
        col("b.band").as("band"), col("b.band_val").as("band_val"))
    val cand = qb.join(cb, Seq("band", "band_val"))
      .select(col("query_id"), col("doc_id"), col("chunk_id")).distinct()
    // exact re-score of candidates only (vectors fetched back by id)
    val scoreCols = (df: DataFrame) => df
      .withColumn("dot", dotL(col("vec"), col("qvec")))
      .withColumn("cos", col("dot").cast("double") /
        sqrt((col("qn2") * col("n2")).cast("double")))
    // both top-3 selections ride the bounded aggregate (r17, see
    // [[top3ByCos]]) instead of row_number windows over every scored row
    val btop = top3ByCos(scoreCols(cand
      .join(ch.select(col("doc_id"), col("chunk_id"), col("vec"), col("n2")),
        Seq("doc_id", "chunk_id"))
      .join(qs.select(col("query_id"), col("qvec"), col("qn2")), "query_id"))
      .select(col("query_id"), col("doc_id"), col("chunk_id"), col("cos")),
      Seq("query_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the certificate side: brute-force exact top-3 (q442's chain)
    val etop = top3ByCos(scoreCols(ch.select(col("doc_id"), col("chunk_id"),
        col("vec"), col("n2")).crossJoin(broadcast(
        qs.select(col("query_id"), col("qvec"), col("qn2")))))
      .select(col("query_id"), col("doc_id"), col("chunk_id"), col("cos")),
      Seq("query_id"))
      .select(col("query_id"), col("doc_id"), col("chunk_id"))
    val recall = btop.join(etop, Seq("query_id", "doc_id", "chunk_id"),
        "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    val nc = cand.groupBy(col("query_id")).agg(count(lit(1)).as("n_cand"))
    val r1 = btop.filter(col("rank") === 1)
      .select(col("query_id"), col("doc_id").as("r1_doc"),
        col("chunk_id").as("r1_chunk"), col("cos").as("r1_cos"))
    val out = graft.plans.Eager.ckpt(
      qs.select(col("query_id")).join(nc, Seq("query_id"), "left")
        .join(r1, Seq("query_id"), "left")
        .join(recall, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          coalesce(col("r1_doc"), lit(-1L)).as("r1_doc"),
          coalesce(col("r1_chunk"), lit(-1)).as("r1_chunk"),
          coalesce(col("r1_cos"), lit(0.0)).as("r1_cos"),
          coalesce(col("hits"), lit(0L)).as("recall_at_3"))
        .orderBy("query_id"))
    ch.unpersist(); qs.unpersist(); btop.unpersist()
    out
  }

  val q447Sql: String = {
    val planeRows = Planes.zipWithIndex.flatMap { case (p, j) =>
      p.zipWithIndex.map { case (s, i) => s"($j, $i, $s)" }
    }.mkString(", ")
    s"""WITH d AS ($tokSql),
      |${chunkSql("d", "")},
      |${wtSql("")},
      |planes AS (SELECT * FROM (VALUES $planeRows) t(j, dim, s)),
      |cst AS (
      |  SELECT doc_id, chunk_id, CAST(SUM(w * w) AS BIGINT) AS n2
      |  FROM wt GROUP BY 1, 2 HAVING SUM(w * w) > 0),
      |cdj AS (
      |  SELECT w.doc_id, w.chunk_id, p.j, CAST(SUM(w.w * p.s) AS BIGINT) AS dj
      |  FROM wt w JOIN planes p ON p.dim = w.dim GROUP BY 1, 2, 3),
      |csig AS (
      |  SELECT doc_id, chunk_id,
      |    CAST(SUM(CASE WHEN dj > 0 THEN (1::BIGINT << j) ELSE 0 END)
      |      AS BIGINT) AS sig
      |  FROM cdj GROUP BY 1, 2),
      |qd AS (
      |  SELECT doc_id AS query_id, toks[4 : 19] AS qtoks
      |  FROM d WHERE doc_id % 41 = 3 AND doc_id < $QuerySliceMax
      |    AND len(toks) >= 28),
      |qtk AS (SELECT query_id, unnest(qtoks) AS t FROM qd),
      |qh AS (SELECT query_id, ${md5Hash60Sql("t")} AS h FROM qtk),
      |qwt AS (
      |  SELECT query_id, CAST(h % $D AS INTEGER) AS dim,
      |    CAST(SUM(CASE WHEN ((h >> 5) & 1) = 0 THEN 1 ELSE -1 END)
      |      AS BIGINT) AS w
      |  FROM qh GROUP BY 1, 2),
      |qst AS (
      |  SELECT query_id, CAST(SUM(w * w) AS BIGINT) AS qn2
      |  FROM qwt GROUP BY 1 HAVING SUM(w * w) > 0),
      |qdj AS (
      |  SELECT w.query_id, p.j, CAST(SUM(w.w * p.s) AS BIGINT) AS dj
      |  FROM qwt w JOIN planes p ON p.dim = w.dim GROUP BY 1, 2),
      |qsig AS (
      |  SELECT query_id,
      |    CAST(SUM(CASE WHEN dj > 0 THEN (1::BIGINT << j) ELSE 0 END)
      |      AS BIGINT) AS sig
      |  FROM qdj WHERE query_id IN (SELECT query_id FROM qst) GROUP BY 1),
      |cbands AS (
      |  SELECT s.doc_id, s.chunk_id, 0 AS band, s.sig & 255 AS band_val
      |  FROM csig s JOIN cst USING (doc_id, chunk_id)
      |  UNION ALL
      |  SELECT s.doc_id, s.chunk_id, 1 AS band, (s.sig >> 8) & 255
      |  FROM csig s JOIN cst USING (doc_id, chunk_id)),
      |qbands AS (
      |  SELECT query_id, 0 AS band, sig & 255 AS band_val FROM qsig
      |  UNION ALL
      |  SELECT query_id, 1 AS band, (sig >> 8) & 255 FROM qsig),
      |cand AS (
      |  SELECT DISTINCT q.query_id, c.doc_id, c.chunk_id
      |  FROM qbands q JOIN cbands c USING (band, band_val)),
      |dots AS (
      |  SELECT q.query_id, c.doc_id, c.chunk_id,
      |    CAST(SUM(q.w * c.w) AS BIGINT) AS dot
      |  FROM qwt q JOIN wt c USING (dim) GROUP BY 1, 2, 3),
      |bsc AS (
      |  SELECT cd.query_id, cd.doc_id, cd.chunk_id,
      |    CAST(COALESCE(dt.dot, 0) AS DOUBLE)
      |      / sqrt(CAST(qs.qn2 * cs.n2 AS DOUBLE)) AS cos
      |  FROM cand cd
      |  JOIN qst qs ON qs.query_id = cd.query_id
      |  JOIN cst cs ON cs.doc_id = cd.doc_id AND cs.chunk_id = cd.chunk_id
      |  LEFT JOIN dots dt ON dt.query_id = cd.query_id
      |    AND dt.doc_id = cd.doc_id AND dt.chunk_id = cd.chunk_id),
      |btop AS (
      |  SELECT query_id, doc_id, chunk_id, cos,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, doc_id, chunk_id) AS rank
      |  FROM bsc QUALIFY rank <= 3),
      |esc AS (
      |  SELECT q.query_id, c.doc_id, c.chunk_id,
      |    CAST(COALESCE(dt.dot, 0) AS DOUBLE)
      |      / sqrt(CAST(q.qn2 * c.n2 AS DOUBLE)) AS cos
      |  FROM qst q CROSS JOIN cst c
      |  LEFT JOIN dots dt ON dt.query_id = q.query_id
      |    AND dt.doc_id = c.doc_id AND dt.chunk_id = c.chunk_id),
      |etop AS (
      |  SELECT query_id, doc_id, chunk_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, doc_id, chunk_id) AS rank
      |  FROM esc QUALIFY rank <= 3),
      |rc AS (
      |  SELECT b.query_id, COUNT(*) AS hits
      |  FROM btop b JOIN etop e ON e.query_id = b.query_id
      |    AND e.doc_id = b.doc_id AND e.chunk_id = b.chunk_id
      |  GROUP BY 1),
      |ncand AS (SELECT query_id, COUNT(*) AS n_cand FROM cand GROUP BY 1),
      |r1 AS (
      |  SELECT query_id, doc_id AS r1_doc, chunk_id AS r1_chunk,
      |    cos AS r1_cos
      |  FROM btop WHERE rank = 1)
      |SELECT q.query_id,
      |  CAST(COALESCE(n.n_cand, 0) AS BIGINT) AS n_cand,
      |  COALESCE(r.r1_doc, -1) AS r1_doc,
      |  CAST(COALESCE(r.r1_chunk, -1) AS INTEGER) AS r1_chunk,
      |  COALESCE(r.r1_cos, 0.0) AS r1_cos,
      |  CAST(COALESCE(rc.hits, 0) AS BIGINT) AS recall_at_3
      |FROM qst q
      |LEFT JOIN ncand n ON n.query_id = q.query_id
      |LEFT JOIN r1 r ON r.query_id = q.query_id
      |LEFT JOIN rc ON rc.query_id = q.query_id
      |ORDER BY q.query_id""".stripMargin
  }

  // ---------------------------------------------------------------- q451
  /** The RECALL DIAL on the banded retrieval path — multi-probe banding
    * (the q99/q101 multi-probe knob applied to sign-LSH, cf. multi-probe
    * LSH, Lv et al. 2007): probe level 0 queries each band at its exact
    * 8-bit value (q447's plan); level 1 ADDITIONALLY probes every 1-bit
    * flip of each band value (16 more buckets per query). Per
    * (probe_level, query): the candidate cost actually paid and the
    * recall@3 against the exact top-3 — the measured recall/cost curve a
    * RAG operator tunes (the q281/q427 trade-off-curve discipline).
    * Candidate sets are CUMULATIVE by construction (level 1 ⊇ level 0),
    * so both columns are monotone in the level — spec-asserted as a law.
    *
    * Exactness: candidate membership is exact integer band arithmetic
    * (XOR bit flips); re-scoring reuses the integer-dot/one-FP-cosine
    * convention; recall counts id pairs. The per-pair MIN probe level
    * makes each level's candidate set derivable from one joined frame.
    *
    * Scale shape: identical to q447 with a constant 9× band-probe
    * fan-out on the QUERY side only (the index side is untouched); the
    * exact side remains the CertSlice-bounded certificate. */
  def q451MultiprobeRetrieval(spark: SparkSession, dir: String)
      : DataFrame = {
    val td = tokDocs(spark, dir)
    def sigOf(vecCol: Column): Column =
      Planes.zipWithIndex.map { case (p, j) =>
        val dj = dotL(vecCol, typedLit(p.toSeq))
        when(dj > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
    def bandsOf(sigCol: Column): Column = array(
      struct(lit(0).as("band"), sigCol.bitwiseAND(lit(255L)).as("band_val")),
      struct(lit(1).as("band"),
        shiftright(sigCol, 8).bitwiseAND(lit(255L)).as("band_val")))
    val ch = chunked(td)
      .withColumn("vec", chunkVec(col("ctoks")))
      .select(col("doc_id"), col("chunk_id"), col("vec"),
        vecN2(col("vec")).as("n2"), sigOf(col("vec")).as("sig"))
      .filter(col("n2") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qs = td.filter(col("doc_id") % 41 === 3 &&
        col("doc_id") < QuerySliceMax && size(col("toks")) >= 28)
      .select(col("doc_id").as("query_id"),
        slice(col("toks"), 4, 16).as("qtoks"))
      .withColumn("qvec", chunkVec(col("qtoks")))
      .select(col("query_id"), col("qvec"), vecN2(col("qvec")).as("qn2"),
        sigOf(col("qvec")).as("qsig"))
      .filter(col("qn2") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cb = ch.select(col("doc_id"), col("chunk_id"),
        explode(bandsOf(col("sig"))).as("b"))
      .select(col("doc_id"), col("chunk_id"),
        col("b.band").as("band"), col("b.band_val").as("band_val"))
    // query probes: level 0 = the exact band values; level 1 = 1-bit flips
    val qb0 = qs.select(col("query_id"), explode(bandsOf(col("qsig"))).as("b"))
      .select(col("query_id"), col("b.band").as("band"),
        col("b.band_val").as("band_val"))
    val qb = qb0.withColumn("lvl", lit(0))
      .unionAll(qb0
        .select(col("query_id"), col("band"), col("band_val"),
          explode(sequence(lit(0), lit(7))).as("bit"))
        .select(col("query_id"), col("band"),
          col("band_val").bitwiseXOR(expr("shiftleft(1L, bit)"))
            .as("band_val"),
          lit(1).as("lvl")))
    // per candidate pair: the MINIMUM probe level that reaches it
    val cand = qb.join(cb, Seq("band", "band_val"))
      .groupBy(col("query_id"), col("doc_id"), col("chunk_id"))
      .agg(min(col("lvl")).as("min_lvl"))
    val scored = cand
      .join(ch.select(col("doc_id"), col("chunk_id"), col("vec"), col("n2")),
        Seq("doc_id", "chunk_id"))
      .join(qs.select(col("query_id"), col("qvec"), col("qn2")), "query_id")
      .withColumn("dot", dotL(col("vec"), col("qvec")))
      .withColumn("cos", col("dot").cast("double") /
        sqrt((col("qn2") * col("n2")).cast("double")))
      .select(col("query_id"), col("doc_id"), col("chunk_id"),
        col("min_lvl"), col("cos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // exact top-3: the certificate side (q447's convention), through the
    // bounded aggregate (r17, see [[top3ByCos]])
    val etop = top3ByCos(ch.select(col("doc_id"), col("chunk_id"),
        col("vec"), col("n2"))
      .crossJoin(broadcast(qs.select(col("query_id"), col("qvec"),
        col("qn2"))))
      .withColumn("dot", dotL(col("vec"), col("qvec")))
      .withColumn("cos", col("dot").cast("double") /
        sqrt((col("qn2") * col("n2")).cast("double")))
      .select(col("query_id"), col("doc_id"), col("chunk_id"), col("cos")),
      Seq("query_id"))
      .select(col("query_id"), col("doc_id"), col("chunk_id"))
    // per level: rank candidates reachable at that level, compare to exact
    val perLvl = scored
      .select(col("query_id"), col("doc_id"), col("chunk_id"), col("cos"),
        explode(sequence(col("min_lvl"), lit(1))).as("lvl"))
    val btop = top3ByCos(perLvl, Seq("lvl", "query_id"))
    val recall = btop.join(etop, Seq("query_id", "doc_id", "chunk_id"),
        "left_semi")
      .groupBy(col("lvl"), col("query_id")).agg(count(lit(1)).as("hits"))
    val nc = perLvl.groupBy(col("lvl"), col("query_id"))
      .agg(count(lit(1)).as("n_cand"))
    val grid = qs.select(col("query_id"))
      .select(col("query_id"), explode(sequence(lit(0), lit(1))).as("lvl"))
    val out = graft.plans.Eager.ckpt(grid
      .join(nc, Seq("lvl", "query_id"), "left")
      .join(recall, Seq("lvl", "query_id"), "left")
      .select(col("lvl").as("probe_level"), col("query_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("hits"), lit(0L)).as("recall_at_3"))
      .orderBy("probe_level", "query_id"))
    ch.unpersist(); qs.unpersist(); scored.unpersist()
    out
  }

  val q451Sql: String = {
    val planeRows = Planes.zipWithIndex.flatMap { case (p, j) =>
      p.zipWithIndex.map { case (s, i) => s"($j, $i, $s)" }
    }.mkString(", ")
    s"""WITH d AS ($tokSql),
      |${chunkSql("d", "")},
      |${wtSql("")},
      |planes AS (SELECT * FROM (VALUES $planeRows) t(j, dim, s)),
      |cst AS (
      |  SELECT doc_id, chunk_id, CAST(SUM(w * w) AS BIGINT) AS n2
      |  FROM wt GROUP BY 1, 2 HAVING SUM(w * w) > 0),
      |cdj AS (
      |  SELECT w.doc_id, w.chunk_id, p.j, CAST(SUM(w.w * p.s) AS BIGINT) AS dj
      |  FROM wt w JOIN planes p ON p.dim = w.dim GROUP BY 1, 2, 3),
      |csig AS (
      |  SELECT doc_id, chunk_id,
      |    CAST(SUM(CASE WHEN dj > 0 THEN (1::BIGINT << j) ELSE 0 END)
      |      AS BIGINT) AS sig
      |  FROM cdj GROUP BY 1, 2),
      |qd AS (
      |  SELECT doc_id AS query_id, toks[4 : 19] AS qtoks
      |  FROM d WHERE doc_id % 41 = 3 AND doc_id < $QuerySliceMax
      |    AND len(toks) >= 28),
      |qtk AS (SELECT query_id, unnest(qtoks) AS t FROM qd),
      |qh AS (SELECT query_id, ${md5Hash60Sql("t")} AS h FROM qtk),
      |qwt AS (
      |  SELECT query_id, CAST(h % $D AS INTEGER) AS dim,
      |    CAST(SUM(CASE WHEN ((h >> 5) & 1) = 0 THEN 1 ELSE -1 END)
      |      AS BIGINT) AS w
      |  FROM qh GROUP BY 1, 2),
      |qst AS (
      |  SELECT query_id, CAST(SUM(w * w) AS BIGINT) AS qn2
      |  FROM qwt GROUP BY 1 HAVING SUM(w * w) > 0),
      |qdj AS (
      |  SELECT w.query_id, p.j, CAST(SUM(w.w * p.s) AS BIGINT) AS dj
      |  FROM qwt w JOIN planes p ON p.dim = w.dim GROUP BY 1, 2),
      |qsig AS (
      |  SELECT query_id,
      |    CAST(SUM(CASE WHEN dj > 0 THEN (1::BIGINT << j) ELSE 0 END)
      |      AS BIGINT) AS sig
      |  FROM qdj WHERE query_id IN (SELECT query_id FROM qst) GROUP BY 1),
      |cbands AS (
      |  SELECT s.doc_id, s.chunk_id, 0 AS band, s.sig & 255 AS band_val
      |  FROM csig s JOIN cst USING (doc_id, chunk_id)
      |  UNION ALL
      |  SELECT s.doc_id, s.chunk_id, 1 AS band, (s.sig >> 8) & 255
      |  FROM csig s JOIN cst USING (doc_id, chunk_id)),
      |qb0 AS (
      |  SELECT query_id, 0 AS band, sig & 255 AS band_val FROM qsig
      |  UNION ALL
      |  SELECT query_id, 1 AS band, (sig >> 8) & 255 FROM qsig),
      |qb AS (
      |  SELECT query_id, band, band_val, 0 AS lvl FROM qb0
      |  UNION ALL
      |  SELECT query_id, band,
      |    xor(band_val, 1::BIGINT << b.bit) AS band_val, 1 AS lvl
      |  FROM qb0 CROSS JOIN (SELECT unnest(range(0, 8)) AS bit) b),
      |cand AS (
      |  SELECT q.query_id, c.doc_id, c.chunk_id, MIN(q.lvl) AS min_lvl
      |  FROM qb q JOIN cbands c USING (band, band_val)
      |  GROUP BY 1, 2, 3),
      |dots AS (
      |  SELECT q.query_id, c.doc_id, c.chunk_id,
      |    CAST(SUM(q.w * c.w) AS BIGINT) AS dot
      |  FROM qwt q JOIN wt c USING (dim) GROUP BY 1, 2, 3),
      |scored AS (
      |  SELECT cd.query_id, cd.doc_id, cd.chunk_id, cd.min_lvl,
      |    CAST(COALESCE(dt.dot, 0) AS DOUBLE)
      |      / sqrt(CAST(qs2.qn2 * cs.n2 AS DOUBLE)) AS cos
      |  FROM cand cd
      |  JOIN qst qs2 ON qs2.query_id = cd.query_id
      |  JOIN cst cs ON cs.doc_id = cd.doc_id AND cs.chunk_id = cd.chunk_id
      |  LEFT JOIN dots dt ON dt.query_id = cd.query_id
      |    AND dt.doc_id = cd.doc_id AND dt.chunk_id = cd.chunk_id),
      |esc AS (
      |  SELECT q.query_id, c.doc_id, c.chunk_id,
      |    CAST(COALESCE(dt.dot, 0) AS DOUBLE)
      |      / sqrt(CAST(q.qn2 * c.n2 AS DOUBLE)) AS cos
      |  FROM qst q CROSS JOIN cst c
      |  LEFT JOIN dots dt ON dt.query_id = q.query_id
      |    AND dt.doc_id = c.doc_id AND dt.chunk_id = c.chunk_id),
      |etop AS (
      |  SELECT query_id, doc_id, chunk_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, doc_id, chunk_id) AS rank
      |  FROM esc QUALIFY rank <= 3),
      |perlvl AS (
      |  SELECT s.query_id, s.doc_id, s.chunk_id, s.cos, l.lvl
      |  FROM scored s
      |  JOIN (SELECT unnest(range(0, 2)) AS lvl) l ON l.lvl >= s.min_lvl),
      |btop AS (
      |  SELECT lvl, query_id, doc_id, chunk_id,
      |    row_number() OVER (PARTITION BY lvl, query_id
      |      ORDER BY cos DESC, doc_id, chunk_id) AS rank
      |  FROM perlvl QUALIFY rank <= 3),
      |rc AS (
      |  SELECT b.lvl, b.query_id, COUNT(*) AS hits
      |  FROM btop b JOIN etop e ON e.query_id = b.query_id
      |    AND e.doc_id = b.doc_id AND e.chunk_id = b.chunk_id
      |  GROUP BY 1, 2),
      |ncand AS (
      |  SELECT lvl, query_id, COUNT(*) AS n_cand FROM perlvl GROUP BY 1, 2),
      |grid AS (
      |  SELECT l.lvl, q.query_id FROM qst q
      |  CROSS JOIN (SELECT unnest(range(0, 2)) AS lvl) l)
      |SELECT CAST(g.lvl AS INTEGER) AS probe_level, g.query_id,
      |  CAST(COALESCE(n.n_cand, 0) AS BIGINT) AS n_cand,
      |  CAST(COALESCE(rc.hits, 0) AS BIGINT) AS recall_at_3
      |FROM grid g
      |LEFT JOIN ncand n ON n.lvl = g.lvl AND n.query_id = g.query_id
      |LEFT JOIN rc ON rc.lvl = g.lvl AND rc.query_id = g.query_id
      |ORDER BY probe_level, g.query_id""".stripMargin
  }

  // ---------------------------------------------------------------- q452
  /** RAG-index decontamination — eval leakage at the INDEX level: a
    * served retrieval index must not contain chunks of the evaluation
    * set, including near-copies the document-level exact dedup misses.
    * The benchmark is a deterministic bounded eval slice (docs ≡ 5
    * mod 23, CertSlice-bounded); the corpus to index is everything else
    * PLUS planted leaks — every second benchmark doc re-crawled at +4e12
    * with a 3-token tail appended (the canonical near-copy). Both sides
    * are cut with the CONTENT-DEFINED chunker (BoilerStore's — ONE
    * spelling), which is the point: the tail edit shifts no interior
    * breakpoint, so the leak still shares every internal chunk with its
    * benchmark original and is caught, while a fixed-stride cut would
    * only match by luck of alignment (q444's measured miss mode). Output
    * is the per-document contamination manifest of the index: every
    * corpus doc sharing ≥ 1 eligible chunk fingerprint with the
    * benchmark, with chunk/token counts and the removable fraction —
    * what an index build actually drops.
    *
    * Exactness: integer counts + md5 fps; CDC chunks are disjoint so
    * contaminated-token mass is a plain sum; the fraction is 6-dp-snapped.
    *
    * Scale shape: the benchmark side is bounded (CertSlice) and its fp
    * set broadcasts; the corpus pays one per-row chunking pass (zero
    * shuffle) plus the fp semi-join and a per-doc rollup — linear in the
    * corpus, constant in it for the benchmark. */
  def q452IndexDecontam(spark: SparkSession, dir: String): DataFrame = {
    val store = graft.operators.BoilerStore
    val d = Kpis.table(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("text"))
    val isBench = (col("doc_id") % 23 === 5) &&
      (col("doc_id") < QuerySliceMax)
    val bench = d.filter(isBench)
    val corpus = d.filter(!isBench)
      .unionAll(bench.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") + lit(4000000000000L)).as("doc_id"),
          concat(col("text"), lit(" zz leak tail")).as("text")))
    def eligChunks(docs: DataFrame): DataFrame =
      store.cdcChunks(docs
          .select(col("doc_id"), tokens(lower(col("text"))).as("toks")))
        .filter(col("cl") >= store.CdcMinLen)
    val bfps = eligChunks(bench).select(col("fp")).distinct()
    val cch = store.cdcChunks(corpus
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks")))
    val flagged = cch
      .join(broadcast(bfps.withColumn("contam", lit(1))),
        cch("fp") === bfps("fp") && cch("cl") >= store.CdcMinLen, "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("contam").cast("long"), lit(0L)))
          .as("n_contam_chunks"),
        sum(when(col("contam").isNotNull, col("cl").cast("long"))
          .otherwise(0L)).as("contam_tokens"),
        sum(col("cl").cast("long")).as("doc_tokens"))
      .filter(col("n_contam_chunks") > 0)
    flagged.select(col("doc_id"),
        (col("doc_id") >= 4000000000000L).as("planted_leak"),
        col("n_chunks"), col("n_contam_chunks"), col("contam_tokens"),
        col("doc_tokens"),
        (round(col("contam_tokens").cast("double") /
          col("doc_tokens").cast("double"), 6) + lit(0.0))
          .as("contam_frac"))
      .orderBy("doc_id")
  }

  val q452Sql: String = {
    val store = graft.operators.BoilerStore
    s"""WITH d0 AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE length(trim(text)) > 0),
      |corpus AS (
      |  SELECT doc_id, text FROM d0
      |  WHERE NOT (doc_id % 23 = 5 AND doc_id < $QuerySliceMax)
      |  UNION ALL
      |  SELECT doc_id + 4000000000000 AS doc_id,
      |    text || ' zz leak tail' AS text
      |  FROM d0 WHERE doc_id % 23 = 5 AND doc_id < $QuerySliceMax
      |    AND doc_id % 2 = 1),
      |bench AS (
      |  SELECT doc_id, text FROM d0
      |  WHERE doc_id % 23 = 5 AND doc_id < $QuerySliceMax),
      |db AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      |  FROM bench),
      |${store.cdcChunkSql("db", "b")},
      |bfps AS (
      |  SELECT DISTINCT fp FROM cchb WHERE cl >= ${store.CdcMinLen}),
      |dc AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      |  FROM corpus),
      |${store.cdcChunkSql("dc", "")},
      |fl AS (
      |  SELECT c.doc_id, COUNT(*) AS n_chunks,
      |    CAST(SUM(CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_contam_chunks,
      |    CAST(SUM(CASE WHEN b.fp IS NOT NULL THEN c.cl ELSE 0 END)
      |      AS BIGINT) AS contam_tokens,
      |    CAST(SUM(c.cl) AS BIGINT) AS doc_tokens
      |  FROM cch c LEFT JOIN bfps b
      |    ON b.fp = c.fp AND c.cl >= ${store.CdcMinLen}
      |  GROUP BY 1 HAVING SUM(CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END) > 0)
      |SELECT doc_id, doc_id >= 4000000000000 AS planted_leak,
      |  CAST(n_chunks AS BIGINT) AS n_chunks, n_contam_chunks,
      |  contam_tokens, doc_tokens,
      |  round(CAST(contam_tokens AS DOUBLE)
      |    / CAST(doc_tokens AS DOUBLE), 6) + 0.0 AS contam_frac
      |FROM fl ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q457
  /** Retrieval under INDEX DUPLICATION — why the dedup layer matters to
    * the serving layer: on the near-dup-injected corpus (q22/q45's
    * fixture: every 10th doc cloned with a 3-token tail), a clone shares
    * its PREFIX chunks verbatim with its original, so the raw top-3 for
    * a query quoting such a doc fills multiple slots with the same
    * passage text. The collapsed variant retrieves over one
    * representative per chunk fingerprint (smallest (doc, chunk) —
    * identical fps score identically, so collapse loses nothing) and
    * frees the crowded slots for NEW passages. Per query: both rank-1
    * results, the raw top-3's DISTINCT-fp count (< 3 = measured
    * crowding), and how many fingerprints the collapsed top-3 surfaces
    * that the raw top-3 could not.
    *
    * Exactness: one scoring pass serves both variants (integer dots, the
    * one-FP-cosine convention); collapse picks min (doc, chunk) per
    * (query, fp); both rankings tie-break on (doc, chunk); the counts
    * are set cardinalities over md5 fps.
    *
    * Scale shape: q442's bounded-broadcast certificate shape (queries =
    * the cloned originals, CertSlice-bounded) plus one per-(query, fp)
    * collapse agg — skinny id rows throughout; at production scale both
    * variants ride the banded index (q447) with collapse as a store-side
    * dedup at INDEX BUILD time, which is exactly what q444/q446/q450
    * feed. */
  def q457DedupRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val corpus = DocQueries.corpusWithNearDups(spark, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
    // The chunk table persists (it is ~corpus-chunk scale, NOT pair
    // scale) so the fp/vec projections materialize exactly once —
    // r17: the previous shape persisted the Q·N SCORED frame instead,
    // and Catalyst's projection collapse re-evaluated the md5 chunk
    // fingerprint once per (query, chunk) PAIR on the way in (measured
    // 18.8 s vs 3.0 s for the same BNLJ without fp at sf0.1).
    val ch = chunked(corpus)
      .withColumn("vec", chunkVec(col("ctoks")))
      .select(col("doc_id"), col("chunk_id"),
        md5(concat_ws(" ", col("ctoks"))).as("fp"), col("vec"),
        vecN2(col("vec")).as("n2"))
      .filter(col("n2") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qs = corpus.filter(col("doc_id") % 10 === 0 &&
        col("doc_id") < 100000L && size(col("toks")) >= 28)
      .select(col("doc_id").as("query_id"),
        slice(col("toks"), 4, 16).as("qtoks"))
      .withColumn("qvec", chunkVec(col("qtoks")))
      .select(col("query_id"), col("qvec"), vecN2(col("qvec")).as("qn2"))
      .filter(col("qn2") > 0)
      .localCheckpoint(true)
    val fpMap = ch.select(col("doc_id"), col("chunk_id"), col("fp"))
    // Collapse BEFORE scoring (r17 algebraic rewrite, proven equivalent:
    // a chunk fingerprint determines its token text, hence its vector,
    // norm, and every per-query cosine; and the raw scored frame is the
    // COMPLETE cross product — so the old per-(query, fp) collapse
    // [min (doc, chunk) representative, max cos] equals scoring one
    // global min-(doc, chunk) representative per fp. The old shape paid
    // a Q·N-row hash aggregate with ~|fps|·Q groups; this groups the
    // chunk table once. The DuckDB oracle still spells the per-(query,
    // fp) collapse, so the round's hash-exact gate IS the equivalence
    // proof.)
    val reps = ch.groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("rep"))
      .select(col("rep.doc_id").as("doc_id"),
        col("rep.chunk_id").as("chunk_id"))
      .join(ch.select(col("doc_id"), col("chunk_id"), col("vec"),
        col("n2")), Seq("doc_id", "chunk_id"))
    // one scoring shape serves both variants; the top-3 selection rides
    // the bounded aggregate (r17, see [[top3ByCos]]) and the fp string
    // is attached AFTER selection — to 3 rows per query, not Q·N
    def scoreTop3(side: DataFrame): DataFrame = top3ByCos(side
      .crossJoin(broadcast(qs))
      .withColumn("dot", dotL(col("vec"), col("qvec")))
      .withColumn("cos", col("dot").cast("double") /
        sqrt((col("qn2") * col("n2")).cast("double")))
      .select(col("query_id"), col("doc_id"), col("chunk_id"), col("cos")),
      Seq("query_id"))
      .join(broadcast(fpMap), Seq("doc_id", "chunk_id"))
    val raw = scoreTop3(ch.select(col("doc_id"), col("chunk_id"),
      col("vec"), col("n2")))
    val coll = scoreTop3(reps)
    val rawAgg = raw.groupBy(col("query_id"))
      .agg(min(when(col("rank") === 1,
          struct(col("doc_id"), col("chunk_id")))).as("r1"),
        countDistinct(col("fp")).as("raw_distinct_fps"),
        collect_set(col("fp")).as("raw_fps"))
    val collAgg = coll.groupBy(col("query_id"))
      .agg(min(when(col("rank") === 1,
          struct(col("doc_id"), col("chunk_id")))).as("c1"),
        collect_set(col("fp")).as("coll_fps"))
    val out = graft.plans.Eager.ckpt(rawAgg.join(collAgg, "query_id")
      .select(col("query_id"),
        col("r1.doc_id").as("raw_r1_doc"),
        col("r1.chunk_id").as("raw_r1_chunk"),
        col("raw_distinct_fps"),
        col("c1.doc_id").as("coll_r1_doc"),
        col("c1.chunk_id").as("coll_r1_chunk"),
        size(array_except(col("coll_fps"), col("raw_fps")))
          .as("new_fps_vs_raw"))
      .orderBy("query_id"))
    ch.unpersist()
    out
  }

  val q457Sql: String =
    s"""WITH nd AS (${DocQueries.corpusNearDupSql}),
      |d AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      |  FROM nd WHERE length(trim(text)) > 0),
      |${chunkSql("d", "")},
      |${wtSql("")},
      |cfp AS (
      |  SELECT doc_id, chunk_id, md5(array_to_string(ctoks, ' ')) AS fp
      |  FROM ck),
      |cst AS (
      |  SELECT doc_id, chunk_id, CAST(SUM(w * w) AS BIGINT) AS n2
      |  FROM wt GROUP BY 1, 2 HAVING SUM(w * w) > 0),
      |qd AS (
      |  SELECT doc_id AS query_id, toks[4 : 19] AS qtoks
      |  FROM d WHERE doc_id % 10 = 0 AND doc_id < 100000
      |    AND len(toks) >= 28),
      |qtk AS (SELECT query_id, unnest(qtoks) AS t FROM qd),
      |qh AS (SELECT query_id, ${md5Hash60Sql("t")} AS h FROM qtk),
      |qwt AS (
      |  SELECT query_id, CAST(h % $D AS INTEGER) AS dim,
      |    CAST(SUM(CASE WHEN ((h >> 5) & 1) = 0 THEN 1 ELSE -1 END)
      |      AS BIGINT) AS w
      |  FROM qh GROUP BY 1, 2),
      |qst AS (
      |  SELECT query_id, CAST(SUM(w * w) AS BIGINT) AS qn2
      |  FROM qwt GROUP BY 1 HAVING SUM(w * w) > 0),
      |dots AS (
      |  SELECT q.query_id, c.doc_id, c.chunk_id,
      |    CAST(SUM(q.w * c.w) AS BIGINT) AS dot
      |  FROM qwt q JOIN wt c USING (dim) GROUP BY 1, 2, 3),
      |scored AS (
      |  SELECT q.query_id, c.doc_id, c.chunk_id, f.fp,
      |    CAST(COALESCE(dt.dot, 0) AS DOUBLE)
      |      / sqrt(CAST(q.qn2 * c.n2 AS DOUBLE)) AS cos
      |  FROM qst q CROSS JOIN cst c
      |  JOIN cfp f ON f.doc_id = c.doc_id AND f.chunk_id = c.chunk_id
      |  LEFT JOIN dots dt ON dt.query_id = q.query_id
      |    AND dt.doc_id = c.doc_id AND dt.chunk_id = c.chunk_id),
      |raw3 AS (
      |  SELECT query_id, doc_id, chunk_id, fp,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, doc_id, chunk_id) AS rank
      |  FROM scored QUALIFY rank <= 3),
      |coll0 AS (
      |  SELECT query_id, doc_id, chunk_id, fp, cos,
      |    row_number() OVER (PARTITION BY query_id, fp
      |      ORDER BY doc_id, chunk_id) AS rn
      |  FROM scored),
      |coll1 AS (
      |  SELECT query_id, doc_id, chunk_id, fp, cos
      |  FROM coll0 WHERE rn = 1),
      |coll3 AS (
      |  SELECT query_id, doc_id, chunk_id, fp,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, doc_id, chunk_id) AS rank
      |  FROM coll1 QUALIFY rank <= 3),
      |ra AS (
      |  SELECT query_id,
      |    MIN(CASE WHEN rank = 1 THEN doc_id END) AS raw_r1_doc,
      |    MIN(CASE WHEN rank = 1 THEN chunk_id END) AS raw_r1_chunk,
      |    CAST(COUNT(DISTINCT fp) AS BIGINT) AS raw_distinct_fps
      |  FROM raw3 GROUP BY 1),
      |ca AS (
      |  SELECT query_id,
      |    MIN(CASE WHEN rank = 1 THEN doc_id END) AS coll_r1_doc,
      |    MIN(CASE WHEN rank = 1 THEN chunk_id END) AS coll_r1_chunk
      |  FROM coll3 GROUP BY 1),
      |nf AS (
      |  SELECT c.query_id, CAST(COUNT(*) AS INTEGER) AS new_fps_vs_raw
      |  FROM (SELECT DISTINCT query_id, fp FROM coll3) c
      |  LEFT JOIN (SELECT DISTINCT query_id, fp FROM raw3) r
      |    ON r.query_id = c.query_id AND r.fp = c.fp
      |  WHERE r.fp IS NULL GROUP BY 1)
      |SELECT ra.query_id, ra.raw_r1_doc,
      |  CAST(ra.raw_r1_chunk AS INTEGER) AS raw_r1_chunk,
      |  ra.raw_distinct_fps, ca.coll_r1_doc,
      |  CAST(ca.coll_r1_chunk AS INTEGER) AS coll_r1_chunk,
      |  COALESCE(nf.new_fps_vs_raw, 0) AS new_fps_vs_raw
      |FROM ra JOIN ca USING (query_id)
      |LEFT JOIN nf USING (query_id)
      |ORDER BY ra.query_id""".stripMargin

  // -------------------------------------------------------------- maps
  def queries: Seq[Query] = Seq(
    Query("q441_chunk_index", q441ChunkIndex _, q441Sql),
    Query("q442_passage_retrieval", q442PassageRetrieval _, q442Sql),
    Query("q443_semi_hard_triplets", q443SemiHardTriplets _, q443Sql),
    Query("q444_chunk_boilerplate", q444ChunkBoilerplate _, q444Sql),
    Query("q445_index_bucket_skew", q445IndexBucketSkew _, q445Sql),
    Query("q446_cdc_boilerplate", q446CdcBoilerplate _, q446Sql),
    Query("q447_banded_retrieval", q447BandedRetrieval _, q447Sql),
    Query("q451_multiprobe_retrieval", q451MultiprobeRetrieval _, q451Sql),
    Query("q452_index_decontam", q452IndexDecontam _, q452Sql),
    Query("q457_dedup_retrieval", q457DedupRetrieval _, q457Sql))
}
