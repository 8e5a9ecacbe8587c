package graft.multimodal

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.functions.TextFunctions.{fingerprint, jaccard, shingles, tokens}
import graft.multimodal.Multimodal.{Codec, FrameH, FrameW, dhash56}

/** Cross-modal PAIR curation (VERDICT r15 #4 + r16 #3): the multimodal
  * family dedups images (q370) and audio (q374) per-modality, and the
  * text family dedups documents (q19/q22/q45) — but a paired corpus
  * ((image, caption) rows, the LAION shape; (audio, transcript) rows,
  * the ASR-corpus shape) makes its keep/drop
  * decision at PAIR granularity, where the modalities interact: a pair
  * whose image is a near-dup but whose caption is unique still carries
  * novel supervision (new description of a seen image), and vice
  * versa; only pairs duplicated in BOTH modalities are unambiguous
  * drops. q434 is that interaction census plus the decision table of
  * the four standard policies.
  *
  * Pair synthesis (deterministic, both engines): every image-kind
  * document (doc_id ≡ 0 mod 3, [[Multimodal.mediaFromDocuments]]'s
  * assignment) is a base pair — its REAL P6 container (built and
  * decoded by [[Multimodal.Codec]], payload = text bytes cycled) hashed
  * with [[Multimodal.dhash56]], its caption the document text. Three
  * planted variants populate the interaction quadrants:
  *   +1·10¹¹ — near-dup image (q370's every-37th +40-clip exposure
  *     artifact) × UNIQUE caption (every token '_cva'-remapped);
  *   +2·10¹¹ — unique image (payload cycled from the marker-prefixed
  *     text "zz<id> <text>") × EXACT caption;
  *   +3·10¹¹ — identical image (same payload, same hash) × NEAR
  *     caption (3-token tail).
  *
  * Verdicts reconcile with the registered per-modality operators by
  * construction: the image side is q370's machinery verbatim (exact
  * dHash collapse + df-capped 4×14-bit banding over DISTINCT hashes +
  * Hamming ≤ 8 verify), the caption side q19's fingerprint + the
  * q22/q432 banded Jaccard ≥ 0.5 verify. Per pair: `dup` = any
  * same/near relation in that modality; `drop` = the modality's dedup
  * would drop it (a smaller-id pair holds its exact group's min, or a
  * near relation points at a group with a smaller min — keep-min / drop
  * -later, the q154 convention). The output row per (img_dup, cap_dup)
  * quadrant carries the kept counts under: image-only dedup (classic
  * LAION), caption-only, strict (drop if EITHER modality drops), and
  * the pair policy (drop only if BOTH drop — keep any novel modality).
  *
  * Exactness: hashes, Hamming distances, groups, and all censuses are
  * integer; the caption Jaccard is the q22 division-compare. The
  * oracle re-derives every pixel byte from the document text (q370's
  * replay), rebuilds the 56-bit integers, and replays both banding
  * arithmetics via the shared SQL spellings.
  *
  * Scale shape: the decode/hash is partition-batched (one long per
  * image crosses the shuffle); the image band join runs on DISTINCT
  * fingerprints with a 16-entry bucket cap (q370); the caption chain is
  * the q22 banded candidate join; everything downstream is flag joins
  * and ONE 4-cell census. No all-pairs product in either modality. */
object CrossModal {

  private val Off = 100000000000L
  private val HamThr = 8
  private val BandBits = 14
  private val BucketCap = 16
  private val JaccardMin = 0.5

  /** The shared per-pair flag frame: (pair_id, h, fp, img_dup,
    * img_drop, cap_dup, cap_drop) — both modality pipelines (q370's
    * image chain, q19/q22's caption chain) run once and joined at pair
    * granularity, eagerly materialized. q434 aggregates it into the
    * interaction census; q438 filters it into the kept pair CORPUS
    * under the pair policy. ONE spelling for both registered outputs
    * (the frontStages discipline). */
  private[graft] def pairFlags(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val par = spark.sparkContext.defaultParallelism
    // The empty-text guard (q432/q433/q435's filter, mirrored in the
    // oracle) keeps Codec.cyclePayload's non-empty precondition and the
    // oracle's `i % tlen` off the degenerate doc; the pixel replay
    // inherits q370's ASCII-only assumption (Spark cycles UTF-8 BYTES,
    // the oracle cycles DuckDB CHARACTERS — equal only while the
    // fixture text is single-byte).
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 3 === 0 && length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("text"))
      .repartition(par, col("doc_id"))
      .localCheckpoint(true)

    // image side: 4 variants per base doc through the REAL containers
    val hashes = d.as[(Long, String)].mapPartitions { rows =>
      rows.flatMap { case (id, text) =>
        val src = text.getBytes(StandardCharsets.UTF_8)
        val dec = Codec.decode(Codec.buildPpm(
          Codec.cyclePayload(src, FrameW * FrameH * 3), FrameW, FrameH))
        val pert = Array.tabulate(dec.payload.length) { i =>
          val v = dec.payload(i) & 0xff
          (if (i % 37 == 0) math.min(v + 40, 255) else v).toByte
        }
        val msrc = s"zz$id $text".getBytes(StandardCharsets.UTF_8)
        val mdec = Codec.decode(Codec.buildPpm(
          Codec.cyclePayload(msrc, FrameW * FrameH * 3), FrameW, FrameH))
        Iterator(
          (id, dhash56(dec.payload, dec.width, dec.height)),
          (id + Off, dhash56(pert, dec.width, dec.height)),
          (id + 2 * Off, dhash56(mdec.payload, mdec.width, mdec.height)),
          (id + 3 * Off, dhash56(dec.payload, dec.width, dec.height)))
      }
    }.toDF("pair_id", "h")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val hgrp = hashes.groupBy(col("h"))
      .agg(count(lit(1)).as("g"), min(col("pair_id")).as("hmin"))
      .localCheckpoint(true)
    val inv = hgrp.select(col("h"),
        explode(sequence(lit(0), lit(3))).as("j"))
      .select(col("h"), col("j"),
        expr(s"shiftright(h, $BandBits * j) & ${(1 << BandBits) - 1}")
          .as("v"))
    val kept = inv.join(
      inv.groupBy(col("j"), col("v")).agg(count(lit(1)).as("bs"))
        .filter(col("bs") <= BucketCap), Seq("j", "v"))
    val hedges = kept.as("a").join(kept.as("b"),
        col("a.j") === col("b.j") && col("a.v") === col("b.v") &&
          col("a.h") < col("b.h"))
      .select(col("a.h").as("ha"), col("b.h").as("hb"))
      .distinct()
      .filter(expr(s"bit_count(ha ^ hb) <= $HamThr"))
      .localCheckpoint(true)
    val hmins = hgrp.select(col("h"), col("hmin"))
    val nearMin = hedges
      .join(hmins.select(col("h").as("hb"), col("hmin").as("omin")), "hb")
      .select(col("ha").as("h"), col("omin"))
      .unionAll(hedges
        .join(hmins.select(col("h").as("ha"), col("hmin").as("omin")),
          "ha")
        .select(col("hb").as("h"), col("omin")))
      .groupBy(col("h")).agg(min(col("omin")).as("near_min"))
    val imgflags = hashes.join(hgrp, "h")
      .join(nearMin, Seq("h"), "left")
      .select(col("pair_id"), col("h"),
        (col("g") >= 2 || col("near_min").isNotNull).cast("int")
          .as("img_dup"),
        (col("pair_id") > col("hmin") ||
          (col("near_min").isNotNull && col("near_min") < col("pair_id")))
          .cast("int").as("img_drop"))

    // caption side: exact fingerprint + q22 banded Jaccard near-dup.
    // The 4-variant caption corpus materializes ONCE (r17): it feeds the
    // fingerprint pass (itself consumed twice — the group census and the
    // flag join) AND the shingle pass, so the lazy form re-ran the
    // variant construction (a per-token transform on variant 2) three
    // times.
    val caps = d.select(col("doc_id").as("pair_id"), col("text").as("cap"))
      .unionAll(d.select((col("doc_id") + lit(Off)).as("pair_id"),
        concat_ws(" ", transform(tokens(col("text")),
          t => concat(t, lit("_cva")))).as("cap")))
      .unionAll(d.select((col("doc_id") + lit(2 * Off)).as("pair_id"),
        col("text").as("cap")))
      .unionAll(d.select((col("doc_id") + lit(3 * Off)).as("pair_id"),
        concat(col("text"), lit(" zz extra tail")).as("cap")))
      .localCheckpoint(true)
    val capfp = caps.select(col("pair_id"), fingerprint(col("cap")).as("fp"))
    val fpg = capfp.groupBy(col("fp"))
      .agg(count(lit(1)).as("g"), min(col("pair_id")).as("fmin"))
    val capsh = caps
      .select(col("pair_id"), shingles(tokens(col("cap")), 3).as("sh"))
      .localCheckpoint(true)
    val candc = graft.operators.BandStore.candidatePairs(
        capsh.withColumnRenamed("pair_id", "doc_id"))
      .select(col("a").as("a_id"), col("b").as("b_id"))
    val nearcap = candc
      .join(capsh.select(col("pair_id").as("a_id"), col("sh").as("a_sh")),
        "a_id")
      .join(capsh.select(col("pair_id").as("b_id"), col("sh").as("b_sh")),
        "b_id")
      .filter(jaccard(col("a_sh"), col("b_sh")) >= JaccardMin)
      .select(col("a_id"), col("b_id"))
      .localCheckpoint(true)
    val capAny = nearcap.select(col("a_id").as("pair_id"))
      .unionAll(nearcap.select(col("b_id").as("pair_id"))).distinct()
    val capLater = nearcap.select(col("b_id").as("pair_id")).distinct()
    val capflags = capfp.join(fpg, "fp")
      .join(capAny.withColumn("any1", lit(1)), Seq("pair_id"), "left")
      .join(capLater.withColumn("lat1", lit(1)), Seq("pair_id"), "left")
      .select(col("pair_id"), col("fp"),
        (col("g") >= 2 || col("any1").isNotNull).cast("int").as("cap_dup"),
        (col("pair_id") > col("fmin") || col("lat1").isNotNull)
          .cast("int").as("cap_drop"))

    val out = graft.plans.Eager.ckpt(imgflags.join(capflags, "pair_id"))
    hashes.unpersist()
    out
  }

  // --------------------------------------------------------------- q434
  /** Cross-modal (image, caption) pair dedup interaction census — the
    * per-quadrant decision table of four curation policies (see the
    * object Scaladoc for pair synthesis and verdict semantics). */
  def q434CrossmodalPairs(spark: SparkSession, dir: String): DataFrame =
    pairFlags(spark, dir)
      .groupBy(col("img_dup"), col("cap_dup"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(lit(1) - col("img_drop")).as("kept_image_dedup"),
        sum(lit(1) - col("cap_drop")).as("kept_caption_dedup"),
        sum(when(col("img_drop") === 0 && col("cap_drop") === 0, 1L)
          .otherwise(0L)).as("kept_strict"),
        sum(when(col("img_drop") === 1 && col("cap_drop") === 1, 0L)
          .otherwise(1L)).as("kept_pair_policy"))
      .orderBy("img_dup", "cap_dup")

  // --------------------------------------------------------------- q438
  /** The kept (image, caption) pair CORPUS under the pair policy (drop
    * only when BOTH modalities would drop — keep any novel modality),
    * VERDICT r16 #3: q434 counts the decision table, this query SHIPS
    * the decision — one row per kept pair with its 56-bit image dHash,
    * its caption fingerprint, and the four provenance flags, i.e. the
    * artifact a LAION-style curation actually publishes (ids +
    * dedup-provenance manifest). Reconciles with q434 by construction:
    * COUNT(*) here = Σ kept_pair_policy there, and the per-quadrant
    * group sizes match (CrossModalPairSpec asserts both). Scale shape:
    * the shared [[pairFlags]] plan plus one filter — no new shuffle. */
  def q438CrossmodalKept(spark: SparkSession, dir: String): DataFrame =
    pairFlags(spark, dir)
      .filter(!(col("img_drop") === 1 && col("cap_drop") === 1))
      .select(col("pair_id"), col("h").as("img_hash"),
        col("fp").as("cap_fp"), col("img_dup"), col("img_drop"),
        col("cap_dup"), col("cap_drop"))
      .orderBy("pair_id")

  // --------------------------------------------------------------- q440
  /** q374's 31-bit energy-delta fingerprint as a closure — frame
    * energies over 8-sample windows of the 8-bit PCM payload, delta
    * signs packed little-endian (the q374 relational fold's image;
    * [[Multimodal.dhash56]]'s role for the audio modality). */
  private def fp31(payload: Array[Byte]): Long = {
    val nFrames = payload.length / 8
    val e = Array.tabulate(nFrames) { f =>
      var s = 0L; var i = f * 8
      while (i < f * 8 + 8) {
        val v = (payload(i) & 0xff) - 128; s += v.toLong * v; i += 1
      }
      s
    }
    var h = 0L; var i = 0
    while (i < 31 && i + 1 < nFrames) {
      if (e(i + 1) > e(i)) h |= (1L << i)
      i += 1
    }
    h
  }

  /** Cross-modal (audio, transcript) pair dedup interaction census —
    * q434's pair treatment extended to the AUDIO modality (VERDICT r16
    * #3's second half): the audio side is q374's machinery (exact
    * fingerprint collapse + df-capped 4×8-bit banding over DISTINCT
    * fingerprints + Hamming ≤ 4 verify) over the REAL WAV containers,
    * the transcript side q19's fingerprint + the q22/q432 banded
    * Jaccard chain — joined per pair into the (aud_dup, txt_dup)
    * quadrant census with kept counts under the same four policies.
    * Pair synthesis mirrors q434 on the audio-kind documents (doc_id ≡
    * 1 mod 3, [[Multimodal.mediaFromDocuments]]'s assignment):
    *   +1·10¹¹ — re-recorded clip (q374's +2 DC shift, clipped — the
    *     planted near-dup) × UNIQUE transcript ('_tva' token remap);
    *   +2·10¹¹ — unique clip (payload cycled from "zz<id> <text>") ×
    *     EXACT transcript;
    *   +3·10¹¹ — identical clip (same payload, same fingerprint) ×
    *     NEAR transcript (3-token tail).
    * The oracle re-derives every sample byte from the document text
    * (q360/q374's replay) and replays both chains; exactness and scale
    * shape are q434's (one long per clip crosses the shuffle, banded
    * joins df-capped, census 4 cells). */
  def q440AudiotextPairs(spark: SparkSession, dir: String): DataFrame =
    q440Audiotext(spark, dir, _ => ())

  /** q440 with a per-barrier completion callback (`lap`) so diagnostics
    * can attribute wall time to the chain's eager materializations —
    * the q154 `pipeline` convention. */
  private[graft] def q440Audiotext(spark: SparkSession, dir: String,
      lap: String => Unit): DataFrame = {
    import spark.implicits._
    import Multimodal.{AudioRate, AudioSamples}
    val par = spark.sparkContext.defaultParallelism
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 3 === 1 && length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("text"))
      .repartition(par, col("doc_id"))
      .localCheckpoint(true)
    lap("d ckpt")

    // audio side: 4 variants per base doc through the REAL containers
    val hashes = d.as[(Long, String)].mapPartitions { rows =>
      rows.flatMap { case (id, text) =>
        val src = text.getBytes(StandardCharsets.UTF_8)
        val dec = Codec.decode(Codec.buildWav(
          Codec.cyclePayload(src, AudioSamples), AudioRate))
        val rerec = dec.payload.map(b => math.min((b & 0xff) + 2, 255).toByte)
        val msrc = s"zz$id $text".getBytes(StandardCharsets.UTF_8)
        val mdec = Codec.decode(Codec.buildWav(
          Codec.cyclePayload(msrc, AudioSamples), AudioRate))
        Iterator(
          (id, fp31(dec.payload)),
          (id + Off, fp31(rerec)),
          (id + 2 * Off, fp31(mdec.payload)),
          (id + 3 * Off, fp31(dec.payload)))
      }
    }.toDF("pair_id", "h")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // r18: the audio chain (hash census + banded Hamming edges) and the
    // transcript chain (fingerprints + banded Jaccard verify) are
    // independent given `d` — their eager barriers overlap (guide §2.6,
    // the q437/q430 discipline); byte-identical, same jobs concurrent.
    def audioChain(): (DataFrame, DataFrame) = {
      val hgrp = hashes.groupBy(col("h"))
        .agg(count(lit(1)).as("g"), min(col("pair_id")).as("hmin"))
        .localCheckpoint(true)
      lap("hgrp ckpt (decode+fp31)")
      val inv = hgrp.select(col("h"),
          explode(sequence(lit(0), lit(3))).as("j"))
        .select(col("h"), col("j"),
          expr(s"shiftright(h, 8 * j) & 255").as("v"))
      val kept = inv.join(
        inv.groupBy(col("j"), col("v")).agg(count(lit(1)).as("bs"))
          .filter(col("bs") <= BucketCap), Seq("j", "v"))
      val hedges = kept.as("a").join(kept.as("b"),
          col("a.j") === col("b.j") && col("a.v") === col("b.v") &&
            col("a.h") < col("b.h"))
        .select(col("a.h").as("ha"), col("b.h").as("hb"))
        .distinct()
        .filter(expr("bit_count(ha ^ hb) <= 4"))
        .localCheckpoint(true)
      lap("hedges ckpt")
      (hgrp, hedges)
    }
    // transcript side: exact fingerprint + q22 banded Jaccard near-dup.
    // (r17 note, still honored: materializing the variant CORPUS (txts)
    // measured NEUTRAL-to-negative — 5.4 s → 5.7–6.1; left lazy. r18:
    // the skinny (pair_id, fp) FINGERPRINT frame is checkpointed
    // instead — the final census's txtflags previously re-ran the
    // variant construction + md5 TWICE more (once for txtfp, once for
    // fpg), and a 32-char fp row is cheap to hold.)
    def textChain(): (DataFrame, DataFrame) = {
      val txts = d.select(col("doc_id").as("pair_id"), col("text").as("cap"))
        .unionAll(d.select((col("doc_id") + lit(Off)).as("pair_id"),
          concat_ws(" ", transform(tokens(col("text")),
            t => concat(t, lit("_tva")))).as("cap")))
        .unionAll(d.select((col("doc_id") + lit(2 * Off)).as("pair_id"),
          col("text").as("cap")))
        .unionAll(d.select((col("doc_id") + lit(3 * Off)).as("pair_id"),
          concat(col("text"), lit(" zz extra tail")).as("cap")))
      val txtfp = txts
        .select(col("pair_id"), fingerprint(col("cap")).as("fp"))
        .localCheckpoint(true)
      val txtsh = txts
        .select(col("pair_id"), shingles(tokens(col("cap")), 3).as("sh"))
        .localCheckpoint(true)
      lap("txtsh ckpt")
      val candt = graft.operators.BandStore.candidatePairs(
          txtsh.withColumnRenamed("pair_id", "doc_id"))
        .select(col("a").as("a_id"), col("b").as("b_id"))
      val neartxt = candt
        .join(txtsh.select(col("pair_id").as("a_id"), col("sh").as("a_sh")),
          "a_id")
        .join(txtsh.select(col("pair_id").as("b_id"), col("sh").as("b_sh")),
          "b_id")
        .filter(jaccard(col("a_sh"), col("b_sh")) >= JaccardMin)
        .select(col("a_id"), col("b_id"))
        .localCheckpoint(true)
      lap("neartxt ckpt")
      (txtfp, neartxt)
    }

    val ((hgrp, hedges), (txtfp, neartxt)) =
      graft.plans.Overlap.two(audioChain(), textChain())

    val hmins = hgrp.select(col("h"), col("hmin"))
    val nearMin = hedges
      .join(hmins.select(col("h").as("hb"), col("hmin").as("omin")), "hb")
      .select(col("ha").as("h"), col("omin"))
      .unionAll(hedges
        .join(hmins.select(col("h").as("ha"), col("hmin").as("omin")),
          "ha")
        .select(col("hb").as("h"), col("omin")))
      .groupBy(col("h")).agg(min(col("omin")).as("near_min"))
    val audflags = hashes.join(hgrp, "h")
      .join(nearMin, Seq("h"), "left")
      .select(col("pair_id"),
        (col("g") >= 2 || col("near_min").isNotNull).cast("int")
          .as("aud_dup"),
        (col("pair_id") > col("hmin") ||
          (col("near_min").isNotNull && col("near_min") < col("pair_id")))
          .cast("int").as("aud_drop"))
    val fpg = txtfp.groupBy(col("fp"))
      .agg(count(lit(1)).as("g"), min(col("pair_id")).as("fmin"))
    val txtAny = neartxt.select(col("a_id").as("pair_id"))
      .unionAll(neartxt.select(col("b_id").as("pair_id"))).distinct()
    val txtLater = neartxt.select(col("b_id").as("pair_id")).distinct()
    val txtflags = txtfp.join(fpg, "fp")
      .join(txtAny.withColumn("any1", lit(1)), Seq("pair_id"), "left")
      .join(txtLater.withColumn("lat1", lit(1)), Seq("pair_id"), "left")
      .select(col("pair_id"),
        (col("g") >= 2 || col("any1").isNotNull).cast("int").as("txt_dup"),
        (col("pair_id") > col("fmin") || col("lat1").isNotNull)
          .cast("int").as("txt_drop"))

    val out = graft.plans.Eager.ckpt(
      audflags.join(txtflags, "pair_id")
        .groupBy(col("aud_dup"), col("txt_dup"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(lit(1) - col("aud_drop")).as("kept_audio_dedup"),
          sum(lit(1) - col("txt_drop")).as("kept_transcript_dedup"),
          sum(when(col("aud_drop") === 0 && col("txt_drop") === 0, 1L)
            .otherwise(0L)).as("kept_strict"),
          sum(when(col("aud_drop") === 1 && col("txt_drop") === 1, 0L)
            .otherwise(1L)).as("kept_pair_policy"))
        .orderBy("aud_dup", "txt_dup"))
    lap("final census ckpt")
    hashes.unpersist()
    out
  }

  val q440Sql: String = {
    val fragment =
      graft.queries.DocQueries.minhashPairsSqlFragment("txtst")
    s"""WITH d AS (
       |  SELECT doc_id, text, length(text) AS tlen,
       |    'zz' || CAST(doc_id AS VARCHAR) || ' ' || text AS mtext,
       |    length('zz' || CAST(doc_id AS VARCHAR) || ' ' || text) AS mlen
       |  FROM documents
       |  WHERE doc_id % 3 = 1 AND length(trim(text)) > 0),
       |b AS (
       |  SELECT doc_id, v.variant, CAST(i // 8 AS INTEGER) AS frame_idx,
       |    CASE
       |      WHEN v.variant = 1
       |        THEN least(ascii(substr(text, CAST(i % tlen AS INTEGER)
       |          + 1, 1)) + 2, 255) - 128
       |      WHEN v.variant = 2
       |        THEN ascii(substr(mtext, CAST(i % mlen AS INTEGER) + 1, 1))
       |          - 128
       |      ELSE ascii(substr(text, CAST(i % tlen AS INTEGER) + 1, 1))
       |        - 128
       |    END AS v
       |  FROM d CROSS JOIN (VALUES (0), (1), (2), (3)) v(variant)
       |  CROSS JOIN LATERAL unnest(range(0, 256)) AS t(i)),
       |fe AS (
       |  SELECT doc_id, variant, frame_idx,
       |    CAST(SUM(v * v) AS BIGINT) AS energy
       |  FROM b GROUP BY ALL),
       |fp AS (
       |  SELECT a.doc_id, a.variant,
       |    CAST(SUM(CASE WHEN n.energy > a.energy
       |      THEN (CAST(1 AS BIGINT) << a.frame_idx) ELSE 0 END)
       |      AS BIGINT) AS h
       |  FROM fe a JOIN fe n ON n.doc_id = a.doc_id
       |    AND n.variant = a.variant AND n.frame_idx = a.frame_idx + 1
       |  WHERE a.frame_idx < 31
       |  GROUP BY 1, 2),
       |ih AS (
       |  SELECT doc_id + 100000000000 * variant AS pair_id, h FROM fp),
       |hgrp AS (
       |  SELECT h, COUNT(*) AS g, MIN(pair_id) AS hmin FROM ih GROUP BY h),
       |inv AS (
       |  SELECT h, hmin, j, (h >> CAST(8 * j AS INTEGER)) & 255 AS v
       |  FROM hgrp CROSS JOIN LATERAL unnest(range(0, 4)) AS t(j)),
       |bk AS (SELECT j, v, COUNT(*) AS bs FROM inv GROUP BY 1, 2),
       |keptb AS (SELECT inv.* FROM inv JOIN bk USING (j, v) WHERE bs <= 16),
       |hedges AS (
       |  SELECT ha, hb2 FROM (
       |    SELECT DISTINCT a.h AS ha, b.h AS hb2
       |    FROM keptb a JOIN keptb b ON a.j = b.j AND a.v = b.v
       |      AND a.h < b.h)
       |  WHERE bit_count(xor(ha, hb2)) <= 4),
       |nearmin AS (
       |  SELECT h, MIN(omin) AS near_min FROM (
       |    SELECT e.ha AS h, g2.hmin AS omin
       |    FROM hedges e JOIN hgrp g2 ON g2.h = e.hb2
       |    UNION ALL
       |    SELECT e.hb2, g1.hmin
       |    FROM hedges e JOIN hgrp g1 ON g1.h = e.ha)
       |  GROUP BY h),
       |audflags AS (
       |  SELECT i.pair_id,
       |    CASE WHEN gg.g >= 2 OR nm.near_min IS NOT NULL
       |      THEN 1 ELSE 0 END AS aud_dup,
       |    CASE WHEN i.pair_id > gg.hmin
       |      OR (nm.near_min IS NOT NULL AND nm.near_min < i.pair_id)
       |      THEN 1 ELSE 0 END AS aud_drop
       |  FROM ih i JOIN hgrp gg USING (h)
       |  LEFT JOIN nearmin nm ON nm.h = i.h),
       |txts AS (
       |  SELECT doc_id AS pair_id, text AS cap FROM d
       |  UNION ALL
       |  SELECT doc_id + 100000000000,
       |    CASE WHEN length(trim(text)) = 0 THEN ''
       |         ELSE array_to_string(list_transform(
       |           regexp_split_to_array(trim(text), '\\s+'),
       |           t -> t || '_tva'), ' ') END
       |  FROM d
       |  UNION ALL
       |  SELECT doc_id + 200000000000, text FROM d
       |  UNION ALL
       |  SELECT doc_id + 300000000000, text || ' zz extra tail' FROM d),
       |txtst AS (SELECT pair_id AS doc_id, cap AS text FROM txts),
       |$fragment,
       |neartxt AS (
       |  SELECT a_id, b_id FROM pairs WHERE jaccard >= 0.5),
       |txtany AS (
       |  SELECT a_id AS pair_id FROM neartxt
       |  UNION
       |  SELECT b_id FROM neartxt),
       |txtlater AS (SELECT DISTINCT b_id AS pair_id FROM neartxt),
       |txtfp AS (
       |  SELECT pair_id,
       |    md5(lower(regexp_replace(trim(cap), '\\s+', ' ', 'g'))) AS fp
       |  FROM txts),
       |fpg AS (
       |  SELECT fp, COUNT(*) AS g, MIN(pair_id) AS fmin
       |  FROM txtfp GROUP BY fp),
       |txtflags AS (
       |  SELECT c.pair_id,
       |    CASE WHEN f.g >= 2
       |      OR c.pair_id IN (SELECT pair_id FROM txtany)
       |      THEN 1 ELSE 0 END AS txt_dup,
       |    CASE WHEN c.pair_id > f.fmin
       |      OR c.pair_id IN (SELECT pair_id FROM txtlater)
       |      THEN 1 ELSE 0 END AS txt_drop
       |  FROM txtfp c JOIN fpg f USING (fp))
       |SELECT CAST(aud_dup AS INTEGER) AS aud_dup,
       |  CAST(txt_dup AS INTEGER) AS txt_dup,
       |  COUNT(*) AS n_pairs,
       |  CAST(SUM(1 - aud_drop) AS BIGINT) AS kept_audio_dedup,
       |  CAST(SUM(1 - txt_drop) AS BIGINT) AS kept_transcript_dedup,
       |  CAST(SUM(CASE WHEN aud_drop = 0 AND txt_drop = 0
       |    THEN 1 ELSE 0 END) AS BIGINT) AS kept_strict,
       |  CAST(SUM(CASE WHEN aud_drop = 1 AND txt_drop = 1
       |    THEN 0 ELSE 1 END) AS BIGINT) AS kept_pair_policy
       |FROM audflags JOIN txtflags USING (pair_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Shared oracle front (CTEs d..capflags): both modality chains down
    * to the per-pair flags — ONE SQL spelling mirroring [[pairFlags]].
    * NOTE: returns MARGIN-BEARING text; callers interpolate it inside
    * their own stripMargin strings (the frontSql convention). */
  private def crossFlagsSql: String = {
    val fragment =
      graft.queries.DocQueries.minhashPairsSqlFragment("capst")
    s"""d AS (
       |  SELECT doc_id, text, length(text) AS tlen,
       |    'zz' || CAST(doc_id AS VARCHAR) || ' ' || text AS mtext,
       |    length('zz' || CAST(doc_id AS VARCHAR) || ' ' || text) AS mlen
       |  FROM documents
       |  WHERE doc_id % 3 = 0 AND length(trim(text)) > 0),
       |px AS (
       |  SELECT doc_id, v.variant, i,
       |    CASE
       |      WHEN v.variant = 1 AND i % 37 = 0
       |        THEN least(ascii(substr(text, CAST(i % tlen AS INTEGER)
       |          + 1, 1)) + 40, 255)
       |      WHEN v.variant = 2
       |        THEN ascii(substr(mtext, CAST(i % mlen AS INTEGER) + 1, 1))
       |      ELSE ascii(substr(text, CAST(i % tlen AS INTEGER) + 1, 1))
       |    END AS b
       |  FROM d CROSS JOIN (VALUES (0), (1), (2), (3)) v(variant)
       |  CROSS JOIN LATERAL unnest(range(0, 192)) AS t(i)),
       |g AS (
       |  SELECT doc_id, variant, CAST(i // 3 AS INTEGER) AS p,
       |    CAST(SUM(b) AS BIGINT) AS gv
       |  FROM px GROUP BY ALL),
       |hb AS (
       |  SELECT a.doc_id, a.variant,
       |    CAST(SUM(CASE WHEN n.gv > a.gv
       |      THEN (CAST(1 AS BIGINT) << CAST(k AS INTEGER)) ELSE 0 END)
       |      AS BIGINT) AS h
       |  FROM (SELECT doc_id, variant, p, gv,
       |          CAST((p // 8) * 7 + (p % 8) AS INTEGER) AS k
       |        FROM g WHERE p % 8 < 7) a
       |  JOIN g n ON n.doc_id = a.doc_id AND n.variant = a.variant
       |    AND n.p = a.p + 1
       |  GROUP BY ALL),
       |ih AS (
       |  SELECT doc_id + 100000000000 * variant AS pair_id, h FROM hb),
       |hgrp AS (
       |  SELECT h, COUNT(*) AS g, MIN(pair_id) AS hmin FROM ih GROUP BY h),
       |inv AS (
       |  SELECT h, hmin, j, (h >> CAST(14 * j AS INTEGER)) & 16383 AS v
       |  FROM hgrp CROSS JOIN LATERAL unnest(range(0, 4)) AS t(j)),
       |bk AS (SELECT j, v, COUNT(*) AS bs FROM inv GROUP BY 1, 2),
       |keptb AS (SELECT inv.* FROM inv JOIN bk USING (j, v) WHERE bs <= 16),
       |hedges AS (
       |  SELECT ha, hb2 FROM (
       |    SELECT DISTINCT a.h AS ha, b.h AS hb2
       |    FROM keptb a JOIN keptb b ON a.j = b.j AND a.v = b.v
       |      AND a.h < b.h)
       |  WHERE bit_count(xor(ha, hb2)) <= 8),
       |nearmin AS (
       |  SELECT h, MIN(omin) AS near_min FROM (
       |    SELECT e.ha AS h, g2.hmin AS omin
       |    FROM hedges e JOIN hgrp g2 ON g2.h = e.hb2
       |    UNION ALL
       |    SELECT e.hb2, g1.hmin
       |    FROM hedges e JOIN hgrp g1 ON g1.h = e.ha)
       |  GROUP BY h),
       |imgflags AS (
       |  SELECT i.pair_id, i.h,
       |    CASE WHEN gg.g >= 2 OR nm.near_min IS NOT NULL
       |      THEN 1 ELSE 0 END AS img_dup,
       |    CASE WHEN i.pair_id > gg.hmin
       |      OR (nm.near_min IS NOT NULL AND nm.near_min < i.pair_id)
       |      THEN 1 ELSE 0 END AS img_drop
       |  FROM ih i JOIN hgrp gg USING (h)
       |  LEFT JOIN nearmin nm ON nm.h = i.h),
       |caps AS (
       |  SELECT doc_id AS pair_id, text AS cap FROM d
       |  UNION ALL
       |  SELECT doc_id + 100000000000,
       |    CASE WHEN length(trim(text)) = 0 THEN ''
       |         ELSE array_to_string(list_transform(
       |           regexp_split_to_array(trim(text), '\\s+'),
       |           t -> t || '_cva'), ' ') END
       |  FROM d
       |  UNION ALL
       |  SELECT doc_id + 200000000000, text FROM d
       |  UNION ALL
       |  SELECT doc_id + 300000000000, text || ' zz extra tail' FROM d),
       |capst AS (SELECT pair_id AS doc_id, cap AS text FROM caps),
       |$fragment,
       |nearcap AS (
       |  SELECT a_id, b_id FROM pairs WHERE jaccard >= 0.5),
       |capany AS (
       |  SELECT a_id AS pair_id FROM nearcap
       |  UNION
       |  SELECT b_id FROM nearcap),
       |caplater AS (SELECT DISTINCT b_id AS pair_id FROM nearcap),
       |capfp AS (
       |  SELECT pair_id,
       |    md5(lower(regexp_replace(trim(cap), '\\s+', ' ', 'g'))) AS fp
       |  FROM caps),
       |fpg AS (
       |  SELECT fp, COUNT(*) AS g, MIN(pair_id) AS fmin
       |  FROM capfp GROUP BY fp),
       |capflags AS (
       |  SELECT c.pair_id, c.fp,
       |    CASE WHEN f.g >= 2
       |      OR c.pair_id IN (SELECT pair_id FROM capany)
       |      THEN 1 ELSE 0 END AS cap_dup,
       |    CASE WHEN c.pair_id > f.fmin
       |      OR c.pair_id IN (SELECT pair_id FROM caplater)
       |      THEN 1 ELSE 0 END AS cap_drop
       |  FROM capfp c JOIN fpg f USING (fp))"""
  }

  val q434Sql: String =
    s"""WITH $crossFlagsSql
       |SELECT CAST(img_dup AS INTEGER) AS img_dup,
       |  CAST(cap_dup AS INTEGER) AS cap_dup,
       |  COUNT(*) AS n_pairs,
       |  CAST(SUM(1 - img_drop) AS BIGINT) AS kept_image_dedup,
       |  CAST(SUM(1 - cap_drop) AS BIGINT) AS kept_caption_dedup,
       |  CAST(SUM(CASE WHEN img_drop = 0 AND cap_drop = 0
       |    THEN 1 ELSE 0 END) AS BIGINT) AS kept_strict,
       |  CAST(SUM(CASE WHEN img_drop = 1 AND cap_drop = 1
       |    THEN 0 ELSE 1 END) AS BIGINT) AS kept_pair_policy
       |FROM imgflags JOIN capflags USING (pair_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val q438Sql: String =
    s"""WITH $crossFlagsSql
       |SELECT pair_id, CAST(h AS BIGINT) AS img_hash, fp AS cap_fp,
       |  CAST(img_dup AS INTEGER) AS img_dup,
       |  CAST(img_drop AS INTEGER) AS img_drop,
       |  CAST(cap_dup AS INTEGER) AS cap_dup,
       |  CAST(cap_drop AS INTEGER) AS cap_drop
       |FROM imgflags JOIN capflags USING (pair_id)
       |WHERE NOT (img_drop = 1 AND cap_drop = 1)
       |ORDER BY pair_id""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q434_crossmodal_pairs", q434CrossmodalPairs _, q434Sql),
    Query("q438_crossmodal_kept", q438CrossmodalKept _, q438Sql),
    Query("q440_audiotext_pairs", q440AudiotextPairs _, q440Sql))
}
