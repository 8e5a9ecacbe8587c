package graft.multimodal

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Query

/** Multimodal-column plumbing (builder brief): image/audio/video carried as
  * opaque `binary` columns with typed metadata, processed in partition-local
  * batches.
  *
  * The media containers are REAL pure-JVM-decodable formats — no external
  * codec libraries needed, and no stub:
  *   - image: binary PPM (P6) — ASCII header `P6\nW H\n255\n` + W×H×3 RGB
  *     bytes (netpbm spec);
  *   - audio: WAV — canonical 44-byte RIFF/fmt/data header + 8-bit PCM mono
  *     samples;
  *   - video: YUV4MPEG2 (y4m) — ASCII stream header `YUV4MPEG2 W8 H8
  *     F25:1 Cmono\n` + per-frame `FRAME\n` markers + raw W×H luma planes.
  * [[Codec]] writes and parses all three for real: magic detection, header
  * field extraction (dimensions, sample rate, bit depth), chunk walking,
  * frame-marker counting, and payload extraction with length validation —
  * malformed containers throw. What the fixture lacks is real media BYTES,
  * so the payloads are derived deterministically from document text (bytes
  * cycled to fill the payload), which is exactly what makes the whole
  * decode → feature path oracle-checkable: DuckDB replays the payload
  * derivation and the feature arithmetic in SQL, so a green q29 hash
  * certifies the parser extracted headers, frame counts, and payload bytes
  * correctly.
  *
  * Execution shape: the decode runs in partition-local batches
  * (`mapPartitions` over an iterator — the Scala analogue of a batched
  * pandas UDF: one decoder init per partition, streamed rows, no
  * whole-partition materialization).
  *
  * Scale posture: media blobs are large; after the decode, only
  * metadata/features flow downstream so aggregations move kilobytes, not the
  * blobs. The decode itself is embarrassingly parallel but the source scan's
  * split count is NOT a reliable parallelism source (a single parquet file —
  * like the fixture corpus — scans as ONE split), so `q29MediaFeatures`
  * explicitly repartitions on `media_id` before the per-row decode, the same
  * pattern as the other compute-heavy per-row stages (q22/q26/q35). That one
  * shuffle moves the payload once, and buys a cluster-wide decode instead of
  * a one-core decode of whatever splits the scan happens to give.
  */
object Multimodal {

  /** Typed metadata accompanying an opaque media payload. */
  final case class MediaMeta(
      kind: String,          // "image" | "audio" | "video"
      width: Int,            // image/video frame width (0 for audio)
      height: Int,
      sampleRate: Int,       // audio sample rate (0 for image)
      nFrames: Int)          // video frames (1 for image/audio)

  final case class MediaRow(
      media_id: Long,
      content: Array[Byte],
      meta: MediaMeta)

  /** Per-row decode output: everything below `n_bytes` comes from PARSING
    * the container, not from the row's metadata — the spec asserts the two
    * agree, and the q29 oracle re-derives them independently. */
  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Int,          // container size (header + payload)
      parsed_width: Int,     // from the PPM/y4m header (0 for audio)
      parsed_sample_rate: Int, // from the WAV fmt chunk (0 otherwise)
      decoded_frames: Int,   // y4m FRAME markers counted (1 for image/audio)
      payload_len: Int,      // decoded payload bytes
      payload_sum: Long,     // sum of decoded payload byte values
      entropy_bits: Double)  // Shannon entropy of the payload byte histogram

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("content", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("kind", StringType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("sampleRate", IntegerType, nullable = false),
      StructField("nFrames", IntegerType, nullable = false))),
      nullable = false)))

  /** Real encoders + parsers for the three container formats. Encoding is
    * used to derive the demo corpus; parsing is the decode stage under
    * test. Both are pure JVM — byte and ASCII manipulation only. */
  object Codec {

    final case class Decoded(
        kind: String, width: Int, height: Int, sampleRate: Int,
        frames: Int, payload: Array[Byte])

    private def ascii(s: String): Array[Byte] =
      s.getBytes(StandardCharsets.US_ASCII)

    /** Fill `n` payload bytes by cycling the source bytes (the oracle
      * replays this as `ascii(substr(text, i % len + 1, 1))`). */
    def cyclePayload(src: Array[Byte], n: Int): Array[Byte] = {
      require(src.nonEmpty, "cannot derive a payload from empty content")
      Array.tabulate(n)(i => src(i % src.length))
    }

    // ------------------------------------------------------------- PPM
    /** Binary PPM (P6): `P6\nW H\n255\n` + W*H*3 RGB bytes. */
    def buildPpm(pixels: Array[Byte], w: Int, h: Int): Array[Byte] = {
      require(pixels.length == w * h * 3, "PPM payload must be W*H*3 bytes")
      ascii(s"P6\n$w $h\n255\n") ++ pixels
    }

    def parsePpm(bytes: Array[Byte]): Decoded = {
      val s = new String(bytes, 0, math.min(bytes.length, 32),
        StandardCharsets.US_ASCII)
      require(s.startsWith("P6\n"), "not a P6 PPM")
      val afterMagic = s.drop(3)
      val nl1 = afterMagic.indexOf('\n')
      require(nl1 > 0, "truncated PPM dimension line")
      val dims = afterMagic.take(nl1).split(" ")
      require(dims.length == 2, "malformed PPM dimension line")
      val (w, h) = (dims(0).toInt, dims(1).toInt)
      val afterDims = afterMagic.drop(nl1 + 1)
      val nl2 = afterDims.indexOf('\n')
      require(nl2 > 0 && afterDims.take(nl2).toInt == 255, "PPM maxval != 255")
      val headerLen = 3 + nl1 + 1 + nl2 + 1
      val payload = bytes.drop(headerLen)
      require(payload.length == w * h * 3,
        s"PPM payload ${payload.length} != ${w * h * 3}")
      Decoded("image", w, h, 0, 1, payload)
    }

    // ------------------------------------------------------------- WAV
    private def le32(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    private def le16(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    private def readLe32(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
        ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
    private def readLe16(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

    /** Canonical 44-byte-header WAV: 8-bit PCM, mono. */
    def buildWav(samples: Array[Byte], sampleRate: Int): Array[Byte] =
      ascii("RIFF") ++ le32(36 + samples.length) ++ ascii("WAVE") ++
        ascii("fmt ") ++ le32(16) ++ le16(1) ++ le16(1) ++
        le32(sampleRate) ++ le32(sampleRate) ++ le16(1) ++ le16(8) ++
        ascii("data") ++ le32(samples.length) ++ samples

    def parseWav(bytes: Array[Byte]): Decoded = {
      def tag(off: Int): String =
        new String(bytes, off, 4, StandardCharsets.US_ASCII)
      require(bytes.length >= 44 && tag(0) == "RIFF" && tag(8) == "WAVE",
        "not a RIFF/WAVE container")
      require(readLe32(bytes, 4) == bytes.length - 8, "RIFF size mismatch")
      // walk chunks (fmt may precede data by spec; tolerate any order)
      var off = 12
      var sampleRate = -1
      var payload: Array[Byte] = null
      while (off + 8 <= bytes.length) {
        val id = tag(off)
        val size = readLe32(bytes, off + 4)
        // guard the skip of UNKNOWN chunks too: a negative or overlong size
        // field must throw, not stall the walk (off would stop advancing)
        require(size >= 0 && off + 8 + size <= bytes.length,
          s"bad chunk size $size at offset $off")
        id match {
          case "fmt " =>
            require(readLe16(bytes, off + 8) == 1, "not PCM")
            require(readLe16(bytes, off + 10) == 1, "not mono")
            sampleRate = readLe32(bytes, off + 12)
            require(readLe16(bytes, off + 22) == 8, "not 8-bit")
          case "data" =>
            payload = bytes.slice(off + 8, off + 8 + size)
            require(payload.length == size, "truncated data chunk")
          case _ => // unknown chunk: skip
        }
        off += 8 + size
      }
      require(sampleRate > 0 && payload != null, "missing fmt or data chunk")
      Decoded("audio", 0, 0, sampleRate, 1, payload)
    }

    // ------------------------------------------------------------- y4m
    /** YUV4MPEG2 with mono chroma (one W×H luma plane per frame). */
    def buildY4m(planes: Seq[Array[Byte]], w: Int, h: Int): Array[Byte] = {
      require(planes.forall(_.length == w * h), "y4m frame must be W*H bytes")
      ascii(s"YUV4MPEG2 W$w H$h F25:1 Cmono\n") ++
        planes.flatMap(p => ascii("FRAME\n") ++ p)
    }

    def parseY4m(bytes: Array[Byte]): Decoded = {
      val headEnd = bytes.indexOf('\n'.toByte)
      require(headEnd > 0, "missing y4m header terminator")
      val header = new String(bytes, 0, headEnd, StandardCharsets.US_ASCII)
      val parts = header.split(" ")
      require(parts(0) == "YUV4MPEG2", "not a YUV4MPEG2 stream")
      def param(p: Char): Option[String] =
        parts.drop(1).find(_.head == p).map(_.tail)
      val w = param('W').map(_.toInt).getOrElse(
        throw new IllegalArgumentException("y4m header missing W"))
      val h = param('H').map(_.toInt).getOrElse(
        throw new IllegalArgumentException("y4m header missing H"))
      require(param('C').forall(_ == "mono"), "only Cmono supported")
      val frameBytes = w * h
      val payload = Array.newBuilder[Byte]
      var frames = 0
      var off = headEnd + 1
      while (off < bytes.length) {
        require(off + 6 <= bytes.length &&
          new String(bytes, off, 6, StandardCharsets.US_ASCII) == "FRAME\n",
          s"expected FRAME marker at offset $off")
        off += 6
        require(off + frameBytes <= bytes.length, "truncated y4m frame")
        payload ++= bytes.slice(off, off + frameBytes)
        off += frameBytes
        frames += 1
      }
      Decoded("video", w, h, 0, frames, payload.result())
    }

    /** Magic-sniffing dispatch — the decode entry point. */
    def decode(bytes: Array[Byte]): Decoded = {
      require(bytes.length >= 4, "container too short")
      if (bytes(0) == 'P' && bytes(1) == '6') parsePpm(bytes)
      else if (bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F') parseWav(bytes)
      else if (bytes(0) == 'Y' && bytes(1) == 'U' && bytes(2) == 'V') parseY4m(bytes)
      else throw new IllegalArgumentException("unrecognized container magic")
    }
  }

  /** Every k-th frame index — the frame-sampling policy of a video
    * training-data pipeline (pure, unit-testable). */
  def sampleFrameIndices(nFrames: Int, every: Int): Seq[Int] =
    (0 until nFrames by math.max(1, every))

  /** Fixture geometry: 8×8 frames, 256 audio samples, 16 kHz. */
  val FrameW = 8
  val FrameH = 8
  val AudioSamples = 256
  val AudioRate = 16000

  /** Partition-batched decode + feature extraction: one pass per partition,
    * iterator-in/iterator-out (constant memory) — the exact execution shape
    * a batched media UDF needs. The parse is real: malformed containers
    * throw rather than yielding silently-wrong features. */
  def extractFeatures(ds: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.map { r =>
        val bytes = Option(r.content).getOrElse(Array.emptyByteArray)
        val d = Codec.decode(bytes)
        val hist = new Array[Long](256)
        var sum = 0L
        d.payload.foreach { b => hist(b & 0xff) += 1; sum += (b & 0xff) }
        val total = d.payload.length.toDouble
        val entropy =
          if (total == 0) 0.0
          else -hist.filter(_ > 0).map { c =>
            val p = c / total; p * math.log(p) / math.log(2.0)
          }.sum
        MediaFeatures(r.media_id, d.kind, bytes.length, d.width,
          d.sampleRate, d.frames, d.payload.length, sum, entropy)
      }
    }
  }

  /** Demo corpus: REAL containers (PPM/WAV/y4m by `media_id % 3`) whose
    * payload bytes are the document's UTF-8 text bytes cycled to fill the
    * payload — deterministic, and replayable in SQL because the fixture
    * text is pure ASCII (one byte per char, `ascii(substr(...))` in
    * DuckDB). Video length varies per doc (`doc_id % 5 + 1` frames). */
  def mediaFromDocuments(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val src = text.getBytes(StandardCharsets.UTF_8)
        val kind = (id % 3) match {
          case 0 => "image"
          case 1 => "audio"
          case _ => "video"
        }
        val nFrames = if (kind == "video") (id % 5 + 1).toInt else 1
        val content = kind match {
          case "image" =>
            Codec.buildPpm(Codec.cyclePayload(src, FrameW * FrameH * 3),
              FrameW, FrameH)
          case "audio" =>
            Codec.buildWav(Codec.cyclePayload(src, AudioSamples), AudioRate)
          case _ =>
            val all = Codec.cyclePayload(src, nFrames * FrameW * FrameH)
            Codec.buildY4m(all.grouped(FrameW * FrameH).toSeq, FrameW, FrameH)
        }
        MediaRow(id, content, MediaMeta(kind,
          if (kind == "audio") 0 else FrameW,
          if (kind == "audio") 0 else FrameH,
          if (kind == "audio") AudioRate else 0, nFrames))
      }
  }

  /** q29 (oracle-checked): decode the binary corpus with the real parsers,
    * aggregate per-kind feature stats. Integer totals (`total_bytes`,
    * `total_frames`, `total_payload_bytes`, `payload_byte_sum`) are exact
    * cross-engine; `avg_payload_byte` is one exact int/int division;
    * per-doc entropies are rounded to 6 dp before an order-independent
    * decimal-sum mean (the q33-centroid / q35-score convention for
    * libm-adjacent doubles). */
  def q29MediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Spread the decode across all cores: the fixture corpus is a single
    // parquet file (one scan split), and mapPartitions inherits the scan's
    // partitioning — without this shuffle the whole decode runs on one task.
    val spread = mediaFromDocuments(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("media_id"))
      .as[MediaRow]
    extractFeatures(spread)
      .withColumn("entropy_r", round(col("entropy_bits"), 6))
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("decoded_frames")).as("total_frames"),
        sum(col("payload_len")).as("total_payload_bytes"),
        sum(col("payload_sum")).as("payload_byte_sum"),
        (sum(col("payload_sum")).cast("double") / sum(col("payload_len")))
          .as("avg_payload_byte"),
        (sum(col("entropy_r").cast("decimal(18,12)")).cast("double")
          / count(lit(1))).as("avg_entropy_bits"))
      .orderBy("kind")
  }

  /** DuckDB replay of q29 from `documents` directly: container sizes from
    * the format specs (PPM header 11 bytes for 8×8, WAV 44, y4m 28 + 6 per
    * frame), payload bytes re-derived by cycling the ASCII text, entropy
    * from a per-doc byte histogram. A hash match certifies the JVM parsers
    * recovered exactly the headers, frame counts, and payload bytes the
    * encoders wrote. */
  val q29Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |         ELSE 'video' END AS kind,
      |    CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 1
      |         ELSE CAST(doc_id % 5 + 1 AS INTEGER) END AS frames,
      |    CASE doc_id % 3 WHEN 0 THEN 192 WHEN 1 THEN 256
      |         ELSE CAST(64 * (doc_id % 5 + 1) AS INTEGER) END AS plen,
      |    CASE doc_id % 3 WHEN 0 THEN 11 WHEN 1 THEN 44
      |         ELSE CAST(28 + 6 * (doc_id % 5 + 1) AS INTEGER) END AS hlen,
      |    text, length(text) AS tlen
      |  FROM documents),
      |bytes AS (
      |  SELECT doc_id, kind, frames, plen, hlen,
      |    ascii(substr(text, CAST(i % tlen AS INTEGER) + 1, 1)) AS b
      |  FROM d CROSS JOIN LATERAL unnest(range(0, plen)) AS t(i)),
      |hist AS (
      |  SELECT doc_id, kind, frames, plen, hlen, b, COUNT(*) AS c
      |  FROM bytes GROUP BY ALL),
      |per_doc AS (
      |  SELECT doc_id, kind, frames, plen, hlen,
      |    SUM(b * c) AS psum,
      |    round(-SUM((CAST(c AS DOUBLE) / plen)
      |               * ln(CAST(c AS DOUBLE) / plen) / ln(2.0)), 6) AS ent
      |  FROM hist GROUP BY ALL)
      |SELECT kind, COUNT(*) AS n_media,
      |  CAST(SUM(hlen + plen) AS BIGINT) AS total_bytes,
      |  CAST(SUM(frames) AS BIGINT) AS total_frames,
      |  CAST(SUM(plen) AS BIGINT) AS total_payload_bytes,
      |  CAST(SUM(psum) AS BIGINT) AS payload_byte_sum,
      |  CAST(SUM(psum) AS DOUBLE) / SUM(plen) AS avg_payload_byte,
      |  CAST(SUM(CAST(ent AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*)
      |    AS avg_entropy_bits
      |FROM per_doc GROUP BY kind ORDER BY kind""".stripMargin

  /** Per-frame decode output for the video corpus. */
  final case class FrameRow(
      media_id: Long,
      n_frames: Int,
      frame_idx: Int,        // 0-based
      frame_sum: Long,       // sum of the frame's W×H luma byte values
      sampled: Boolean)      // stride-2 frame-sampling policy keeps it

  /** Partition-batched per-FRAME extraction for video rows: the decode
    * slices the y4m payload into its W×H luma planes and emits one row
    * per frame — the frame-sampling primitive of a video training-data
    * pipeline (q29 reduces a container to one feature row; training
    * pipelines need the per-frame stream to sample from). */
  def extractFrames(ds: Dataset[MediaRow]): Dataset[FrameRow] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = Option(r.content).getOrElse(Array.emptyByteArray)
        val d = Codec.decode(bytes)
        if (d.kind != "video") Iterator.empty
        else {
          val fb = d.width * d.height
          val keep = sampleFrameIndices(d.frames, 2).toSet
          (0 until d.frames).iterator.map { f =>
            var s = 0L
            var i = f * fb
            val end = i + fb
            while (i < end) { s += (d.payload(i) & 0xff); i += 1 }
            FrameRow(r.media_id, d.frames, f, s, keep(f))
          }
        }
      }
    }
  }

  // --------------------------------------------------------------- q333
  /** Video frame-sampling + scene-change census: decode every video,
    * emit per-frame luma sums, apply the stride-2 sampling policy, and
    * flag scene changes (consecutive frames whose luma sums differ by
    * ≥ 400) — reported per video-length group. This is the per-FRAME
    * half of the multimodal brief (q29 certifies container decode;
    * this certifies frame slicing, the sampling policy, and a
    * between-frame feature), with the oracle re-deriving every frame
    * sum from the documented payload derivation.
    *
    * Exactness: frame sums, sampling counts, and the ≥400 scene-change
    * comparisons are ALL integer; no doubles anywhere.
    *
    * Scale shape: the decode repartitions off the single-split scan
    * (q29's note) and emits frames, not blobs; the consecutive-frame
    * window is PARTITIONED per video; the census is ≤5 rows. */
  def q333FrameStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spread = mediaFromDocuments(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("media_id"))
      .as[MediaRow]
    val frames = extractFrames(spread)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("media_id")).orderBy(col("frame_idx"))
    frames.toDF()
      .withColumn("prev_sum", lag(col("frame_sum"), 1).over(w))
      .groupBy(col("n_frames").as("frames_in_video"))
      .agg(
        countDistinct(col("media_id")).as("n_videos"),
        count(lit(1)).as("total_frames"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("sampled_frames"),
        sum(when(col("prev_sum").isNotNull, 1L).otherwise(0L))
          .as("n_frame_pairs"),
        sum(when(col("prev_sum").isNotNull &&
          abs(col("frame_sum") - col("prev_sum")) >= 400L, 1L)
          .otherwise(0L)).as("n_scene_changes"),
        min(col("frame_sum")).as("min_frame_sum"),
        max(col("frame_sum")).as("max_frame_sum"))
      .orderBy("frames_in_video")
  }

  /** DuckDB replay from `documents`: video payload bytes re-derived by
    * cycling the ASCII text, sliced at 64-byte frame boundaries; the
    * stride-2 policy and the ≥400 scene-change rule are integer
    * arithmetic on the re-derived frame sums. */
  val q333Sql: String =
    """WITH d AS (
      |  SELECT doc_id, CAST(doc_id % 5 + 1 AS INTEGER) AS frames,
      |    CAST(64 * (doc_id % 5 + 1) AS INTEGER) AS plen,
      |    text, length(text) AS tlen
      |  FROM documents WHERE doc_id % 3 = 2),
      |bytes AS (
      |  SELECT doc_id, frames, CAST(i // 64 AS INTEGER) AS frame_idx,
      |    ascii(substr(text, CAST(i % tlen AS INTEGER) + 1, 1)) AS b
      |  FROM d CROSS JOIN LATERAL unnest(range(0, plen)) AS t(i)),
      |fs AS (
      |  SELECT doc_id, frames, frame_idx,
      |    CAST(SUM(b) AS BIGINT) AS frame_sum
      |  FROM bytes GROUP BY ALL),
      |fd AS (
      |  SELECT *,
      |    LAG(frame_sum) OVER (PARTITION BY doc_id ORDER BY frame_idx)
      |      AS prev_sum
      |  FROM fs)
      |SELECT frames AS frames_in_video,
      |  COUNT(DISTINCT doc_id) AS n_videos,
      |  COUNT(*) AS total_frames,
      |  CAST(SUM(CASE WHEN frame_idx % 2 = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS sampled_frames,
      |  CAST(SUM(CASE WHEN prev_sum IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_frame_pairs,
      |  CAST(SUM(CASE WHEN prev_sum IS NOT NULL
      |      AND abs(frame_sum - prev_sum) >= 400 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_scene_changes,
      |  MIN(frame_sum) AS min_frame_sum,
      |  MAX(frame_sum) AS max_frame_sum
      |FROM fd GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q360
  final case class AudioFrame(
      media_id: Long,
      parsed_rate: Int,      // from the REAL WAV fmt-chunk walk
      frame_idx: Int,        // 0-based 32-sample frame
      energy: Long)          // Σ (sample − 128)² over the frame

  /** Per-frame energy extraction for audio rows: the real RIFF/fmt/data
    * chunk walk yields the 8-bit PCM payload, sliced into 32-sample
    * frames with integer squared-deviation energy — the
    * voice-activity-detection primitive of an audio training-data
    * pipeline (q29 reduces a container to one feature row; VAD needs
    * the per-frame energy stream). */
  def audioFrames(ds: Dataset[MediaRow], frameLen: Int)
      : Dataset[AudioFrame] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = Option(r.content).getOrElse(Array.emptyByteArray)
        val d = Codec.decode(bytes)
        if (d.kind != "audio") Iterator.empty
        else (0 until d.payload.length / frameLen).iterator.map { f =>
          var e = 0L
          var i = f * frameLen
          val end = i + frameLen
          while (i < end) {
            val v = (d.payload(i) & 0xff) - 128
            e += (v * v).toLong; i += 1
          }
          AudioFrame(r.media_id, d.sampleRate, f, e)
        }
      }
    }
  }

  /** Activity-segmentation census over the audio corpus — the VAD
    * (voice-activity-detection) shape on the synthesized WAV corpus:
    * per audio document, frame count, frames above the energy
    * threshold, their gaps-and-islands segment count, and the longest
    * active run, with `parsed_rate` carried from the REAL container
    * parse (a wrong fmt-chunk walk would break the oracle hash).
    *
    * Threshold 66000 is the corpus midpoint of the 32-sample
    * squared-deviation energies (ASCII payloads put every byte well
    * below the 128 midline, so absolute silence does not exist —
    * production calibrates the threshold from a q117-style energy
    * census the same way).
    *
    * Exactness: all-integer energies, counts, and run lengths; the
    * oracle re-derives every sample byte from the document text
    * (q333's replay convention).
    *
    * Scale shape: decode is partition-batched `mapPartitions` (the
    * multimodal idiom); the segment stitch windows partition per
    * DOCUMENT over its ≤ 8 frames; rollups are map-combinable. */
  def q360AudioSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val T = 66000L
    val frames = audioFrames(
      mediaFromDocuments(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism, col("media_id"))
        .as[MediaRow], 32).toDF()
    val isl = frames.filter(col("energy") >= T)
      .withColumn("iid", col("frame_idx") - row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("media_id")).orderBy(col("frame_idx"))))
    val perDoc = isl.groupBy(col("media_id"), col("iid"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_segments"), max(col("len")).as("longest_run"))
    frames.groupBy(col("media_id"), col("parsed_rate"))
      .agg(count(lit(1)).as("n_frames"),
        sum((col("energy") >= T).cast("long")).as("n_active"),
        sum(col("energy")).as("total_energy"))
      .join(perDoc, Seq("media_id"), "left")
      .select(col("media_id"), col("parsed_rate"), col("n_frames"),
        col("n_active"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"),
        col("total_energy"))
      .orderBy("media_id")
  }

  /** DuckDB replay from `documents`: audio payload bytes re-derived by
    * cycling the ASCII text over the 256-sample payload; energies,
    * threshold flags, and the gaps-and-islands stitch are integer
    * arithmetic; `parsed_rate` is the literal the builder wrote into
    * the fmt chunk. */
  val q360Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS tlen
      |  FROM documents WHERE doc_id % 3 = 1),
      |b AS (
      |  SELECT doc_id, CAST(i // 32 AS INTEGER) AS frame_idx,
      |    ascii(substr(text, CAST(i % tlen AS INTEGER) + 1, 1)) - 128 AS v
      |  FROM d CROSS JOIN LATERAL unnest(range(0, 256)) AS t(i)),
      |fe AS (
      |  SELECT doc_id, frame_idx, CAST(SUM(v * v) AS BIGINT) AS energy
      |  FROM b GROUP BY 1, 2),
      |isl AS (
      |  SELECT doc_id, frame_idx,
      |    frame_idx - row_number() OVER (
      |      PARTITION BY doc_id ORDER BY frame_idx) AS iid
      |  FROM fe WHERE energy >= 66000),
      |segs AS (SELECT doc_id, iid, COUNT(*) AS len FROM isl GROUP BY 1, 2),
      |pd AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
      |    CAST(MAX(len) AS BIGINT) AS longest_run
      |  FROM segs GROUP BY 1),
      |tot AS (
      |  SELECT doc_id, COUNT(*) AS n_frames,
      |    CAST(SUM(CASE WHEN energy >= 66000 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_active,
      |    CAST(SUM(energy) AS BIGINT) AS total_energy
      |  FROM fe GROUP BY 1)
      |SELECT t.doc_id AS media_id, 16000 AS parsed_rate, t.n_frames,
      |  t.n_active,
      |  COALESCE(p.n_segments, 0) AS n_segments,
      |  COALESCE(p.longest_run, 0) AS longest_run, t.total_energy
      |FROM tot t LEFT JOIN pd p ON t.doc_id = p.doc_id
      |ORDER BY media_id""".stripMargin

  // --------------------------------------------------------------- q370
  /** 56-bit difference hash (dHash) of a decoded W×H RGB image: one
    * gradient-sign bit per horizontally adjacent gray pair, bit
    * position y·(W−1)+x set iff gray(x+1,y) > gray(x,y), gray = r+g+b
    * (exact integer — no luma weights, so the oracle replays it in
    * integer SQL). The standard perceptual fingerprint: robust to
    * brightness shifts (monotone per-pixel maps preserve most gradient
    * signs), cheap to band for LSH. */
  def dhash56(payload: Array[Byte], w: Int, h: Int): Long = {
    require(payload.length == w * h * 3, "dhash needs a W*H*3 RGB payload")
    def g(x: Int, y: Int): Int = {
      val o = (y * w + x) * 3
      (payload(o) & 0xff) + (payload(o + 1) & 0xff) + (payload(o + 2) & 0xff)
    }
    var hash = 0L
    var bit = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w - 1) {
        if (g(x + 1, y) > g(x, y)) hash |= 1L << bit
        bit += 1
        x += 1
      }
      y += 1
    }
    hash
  }

  /** Image perceptual-hash near-dup detection — the IMAGE modality of
    * the dedup family (exact q19, MinHash q22, SimHash q27, semantic
    * q50/q99, substring q350 are all text/vector; a multimodal corpus
    * dedups its images by perceptual fingerprint, not byte equality,
    * because a re-encode/brightness-shift breaks byte hashes). Every
    * image is decoded with the REAL PPM parser and fingerprinted with
    * [[dhash56]]; a planted "re-encoded copy" of each image (id +
    * 100000, every 37th payload byte brightened +40 and clipped — a
    * local exposure artifact) joins the corpus. The pipeline is the
    * PRODUCTION shape: (1) exact-duplicate hashes collapse FIRST into
    * a group census (identical fingerprints are duplicates by
    * definition — their C(g,2) pairs need no join, and skipping this
    * step is the classic LSH scale trap: every popular image makes a
    * hot band bucket with quadratic pair fan-out, measured 65× shuffle
    * at 10× before this collapse); (2) only DISTINCT hashes are banded
    * 4×14 bits, with hot buckets above 16 distinct hashes dropped and
    * COUNTED (q350's df-cap discipline); (3) surviving band pairs are
    * verified by exact Hamming ≤ 8 and expanded back to image-pair
    * counts via group-size products. The planted-copy ledger is
    * measured EXACTLY via one id-keyed join (orig vs copy hash):
    * Hamming per planted pair, how many are exact, how many share ≥ 1
    * band (the banding operating point), how many pass the threshold.
    *
    * Exactness: grays, hash bits, bands, Hamming distances, group
    * sizes, and pair counts are ALL integer; the oracle re-derives
    * every pixel byte from the document text (q333's replay
    * convention) and rebuilds the same 56-bit integers.
    *
    * Scale shape: decode + hash is partition-batched `mapPartitions`
    * (the multimodal idiom) emitting ONE long per image — blobs never
    * shuffle; the exact collapse and the planted join are keyed and
    * linear; banding runs on DISTINCT hashes only, bucket membership
    * is df-capped at 16, so candidate volume is bounded by 16·bands·
    * |distinct hashes| — linear with a hard per-bucket constant. */
  /** The shared perceptual-dedup pipeline (q370 images / q374 audio):
    * exact-fingerprint collapse (closed-form pair census) → df-capped
    * banding over DISTINCT fingerprints → Hamming-threshold verify →
    * group-product expansion, plus the exact keyed planted-copy ledger
    * (copies at id + 100000). `hashes` = (id, h); output column names
    * are parameters so each modality keeps its oracle contract. */
  private def perceptualDedup(hashes: DataFrame, bandBits: Int,
      hamThr: Int, cap: Int, entityCol: String, distinctCol: String,
      candCol: String, dupCol: String): DataFrame = {
    val mask = (1L << bandBits) - 1
    val groups = hashes.groupBy(col("h"))
      .agg(count(lit(1)).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exact = groups.agg(
      count(lit(1)).as(distinctCol),
      sum(expr("(g * (g - 1)) div 2")).as("exact_dup_pairs"))
    def bandEq(j: Int) =
      expr(s"(shiftright(ho, ${bandBits * j}) & $mask) = " +
        s"(shiftright(hc, ${bandBits * j}) & $mask)")
    val planted = hashes.filter(col("id") < 100000L)
      .select(col("id"), col("h").as("ho"))
      .join(hashes.filter(col("id") >= 100000L)
        .select((col("id") - 100000L).as("id"), col("h").as("hc")), "id")
      .select(expr("CAST(bit_count(ho ^ hc) AS BIGINT)").as("ham"),
        (bandEq(0) || bandEq(1) || bandEq(2) || bandEq(3)).as("reach"))
      .agg(count(lit(1)).as("planted_total"),
        sum(when(col("ham") === 0L, 1L).otherwise(0L)).as("planted_exact"),
        sum(when(col("reach"), 1L).otherwise(0L))
          .as("planted_band_reachable"),
        sum(when(col("ham") <= hamThr, 1L).otherwise(0L))
          .as("planted_dups"),
        max(col("ham")).as("max_planted_ham"))
    val inv = groups.select(col("h"), col("g"),
      expr("explode(sequence(0, 3))").as("j"))
      .select(col("h"), col("g"), col("j"),
        expr(s"shiftright(h, $bandBits * j) & $mask").as("v"))
    val buckets = inv.groupBy(col("j"), col("v"))
      .agg(count(lit(1)).as("bs"))
    val dropped = buckets.agg(
      sum(when(col("bs") > cap, 1L).otherwise(0L)).as("buckets_dropped"))
    val kept = inv.join(buckets.filter(col("bs") <= cap), Seq("j", "v"))
    val cand = kept.as("a").join(kept.as("b"),
        col("a.j") === col("b.j") && col("a.v") === col("b.v") &&
          col("a.h") < col("b.h"))
      .select(col("a.h").as("ha"), col("b.h").as("hb"),
        col("a.g").as("ga"), col("b.g").as("gb"))
      .distinct()
      .withColumn("ham", expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))
    val near = cand.agg(
      count(lit(1)).as(candCol),
      coalesce(sum(when(col("ham") <= hamThr, 1L).otherwise(0L)), lit(0L))
        .as(dupCol),
      coalesce(sum(when(col("ham") <= hamThr, col("ga") * col("gb"))
        .otherwise(0L)), lit(0L)).as("near_dup_id_pairs"))
    val nEnt = hashes.filter(col("id") < 100000L)
      .agg(count(lit(1)).as(entityCol))
    val out = graft.plans.Eager.ckpt(
      nEnt.crossJoin(broadcast(exact))
        .crossJoin(broadcast(planted))
        .crossJoin(broadcast(dropped))
        .crossJoin(broadcast(near))
        .select(col(entityCol), col(distinctCol),
          col("exact_dup_pairs"), col("planted_total"),
          col("planted_exact"), col("planted_band_reachable"),
          col("planted_dups"), col("max_planted_ham"),
          col("buckets_dropped"), col(candCol),
          col(dupCol),
          (col("exact_dup_pairs") + col("near_dup_id_pairs"))
            .as("dup_id_pairs_total")))
    groups.unpersist()
    out
  }

  def q370ImagePhashDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val imgs = mediaFromDocuments(spark, dir)
      .filter(col("meta.kind") === "image")
      .repartition(spark.sparkContext.defaultParallelism, col("media_id"))
      .as[MediaRow]
    val hashes = imgs.mapPartitions { rows =>
      rows.flatMap { r =>
        val d = Codec.decode(r.content)
        val pert = Array.tabulate(d.payload.length) { i =>
          val v = d.payload(i) & 0xff
          (if (i % 37 == 0) math.min(v + 40, 255) else v).toByte
        }
        Iterator(
          (r.media_id, dhash56(d.payload, d.width, d.height)),
          (r.media_id + 100000L, dhash56(pert, d.width, d.height)))
      }
    }.toDF("id", "h")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = perceptualDedup(hashes, bandBits = 14, hamThr = 8, cap = 16,
      entityCol = "n_images", distinctCol = "n_distinct_hashes",
      candCol = "cand_hash_pairs", dupCol = "dup_hash_pairs")
    hashes.unpersist()
    out
  }

  /** DuckDB replay from `documents`: pixel bytes re-derived by cycling
    * the ASCII text (variant 1 applies the every-37th +40-clip rule),
    * grays summed per pixel, the 56 gradient bits assembled into the
    * same BIGINT, then the identical collapse → df-capped band join →
    * Hamming verify → group-product expansion. */
  val q370Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS tlen
      |  FROM documents WHERE doc_id % 3 = 0),
      |px AS (
      |  SELECT doc_id, v.variant, i,
      |    CASE WHEN v.variant = 1 AND i % 37 = 0
      |      THEN least(ascii(substr(text, CAST(i % tlen AS INTEGER) + 1,
      |        1)) + 40, 255)
      |      ELSE ascii(substr(text, CAST(i % tlen AS INTEGER) + 1, 1))
      |    END AS b
      |  FROM d CROSS JOIN (VALUES (0), (1)) v(variant)
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
      |ih AS (SELECT doc_id + 100000 * variant AS id, h FROM hb),
      |grp AS (SELECT h, COUNT(*) AS g FROM ih GROUP BY h),
      |exact AS (
      |  SELECT COUNT(*) AS n_distinct_hashes,
      |    CAST(SUM((g * (g - 1)) // 2) AS BIGINT) AS exact_dup_pairs
      |  FROM grp),
      |pl AS (
      |  SELECT o.h AS ho, c.h AS hc,
      |    CAST(bit_count(xor(o.h, c.h)) AS BIGINT) AS ham,
      |    CASE WHEN ((o.h >> 0) & 16383) = ((c.h >> 0) & 16383)
      |      OR ((o.h >> 14) & 16383) = ((c.h >> 14) & 16383)
      |      OR ((o.h >> 28) & 16383) = ((c.h >> 28) & 16383)
      |      OR ((o.h >> 42) & 16383) = ((c.h >> 42) & 16383)
      |    THEN 1 ELSE 0 END AS reach
      |  FROM (SELECT id, h FROM ih WHERE id < 100000) o
      |  JOIN (SELECT id - 100000 AS id, h FROM ih WHERE id >= 100000) c
      |    USING (id)),
      |pls AS (
      |  SELECT COUNT(*) AS planted_total,
      |    CAST(SUM(CASE WHEN ham = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS planted_exact,
      |    CAST(SUM(reach) AS BIGINT) AS planted_band_reachable,
      |    CAST(SUM(CASE WHEN ham <= 8 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS planted_dups,
      |    MAX(ham) AS max_planted_ham
      |  FROM pl),
      |inv AS (
      |  SELECT h, g, j, (h >> CAST(14 * j AS INTEGER)) & 16383 AS v
      |  FROM grp CROSS JOIN LATERAL unnest(range(0, 4)) AS t(j)),
      |bk AS (SELECT j, v, COUNT(*) AS bs FROM inv GROUP BY 1, 2),
      |dropped AS (
      |  SELECT CAST(SUM(CASE WHEN bs > 16 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS buckets_dropped
      |  FROM bk),
      |kept AS (SELECT inv.* FROM inv JOIN bk USING (j, v) WHERE bs <= 16),
      |cand AS (
      |  SELECT DISTINCT a.h AS ha, b.h AS hb2, a.g AS ga, b.g AS gb
      |  FROM kept a JOIN kept b
      |    ON a.j = b.j AND a.v = b.v AND a.h < b.h),
      |sc AS (
      |  SELECT *, CAST(bit_count(xor(ha, hb2)) AS BIGINT) AS ham
      |  FROM cand),
      |near AS (
      |  SELECT COUNT(*) AS cand_hash_pairs,
      |    CAST(COALESCE(SUM(CASE WHEN ham <= 8 THEN 1 ELSE 0 END), 0)
      |      AS BIGINT) AS dup_hash_pairs,
      |    CAST(COALESCE(SUM(CASE WHEN ham <= 8 THEN ga * gb ELSE 0 END),
      |      0) AS BIGINT) AS near_dup_id_pairs
      |  FROM sc),
      |ni AS (SELECT COUNT(*) AS n_images FROM ih WHERE id < 100000)
      |SELECT n_images, n_distinct_hashes, exact_dup_pairs,
      |  planted_total, planted_exact, planted_band_reachable,
      |  planted_dups, max_planted_ham, buckets_dropped, cand_hash_pairs,
      |  dup_hash_pairs,
      |  exact_dup_pairs + near_dup_id_pairs AS dup_id_pairs_total
      |FROM ni, exact, pls, dropped, near""".stripMargin

  // --------------------------------------------------------------- q374
  /** Audio energy-fingerprint near-dup detection — the AUDIO modality
    * of the dedup family (q370's dHash recipe applied to sound, the
    * Chromaprint/Shazam shape reduced to its relational core): each
    * WAV decodes through the REAL RIFF chunk walk into 8-sample
    * integer frame energies (q360's primitive at finer grain), and the
    * 31 energy-DELTA signs between consecutive frames form the
    * fingerprint — robust to level shifts the way gradient signs are
    * robust to brightness. A planted "re-recorded copy" of every clip
    * (id + 100000, all samples DC-shifted +2 and clipped) joins the
    * corpus; the q370 pipeline follows verbatim: exact-fingerprint
    * collapse first (closed-form pair census), df-capped 4×8-bit
    * banding over DISTINCT fingerprints, Hamming ≤ 4 verify, group-
    * product expansion, and the exact keyed planted ledger.
    *
    * Exactness: energies, delta signs, fingerprints, bands, Hamming
    * distances, and counts are ALL integer; the oracle re-derives
    * every sample byte from the document text (q360's replay) and
    * rebuilds the same 31-bit integers.
    *
    * Scale shape: identical to q370 — decode is partition-batched,
    * one long per clip shuffles, the band join runs on distinct
    * fingerprints with a 16-entry bucket cap; everything census-
    * bounded past the collapse. The fingerprint itself is a relational
    * fold over the per-clip energy array (no JVM hash — energies are
    * already relational). */
  def q374AudioFpDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val auds = mediaFromDocuments(spark, dir)
      .filter(col("meta.kind") === "audio")
      .repartition(spark.sparkContext.defaultParallelism, col("media_id"))
      .as[MediaRow]
    val withCopies = auds.flatMap { r =>
      val d = Codec.decode(r.content)
      val pert = d.payload.map(b => math.min((b & 0xff) + 2, 255).toByte)
      Iterator(r,
        MediaRow(r.media_id + 100000L, Codec.buildWav(pert, d.sampleRate),
          r.meta))
    }
    val frames = audioFrames(withCopies, 8).toDF()
    val fps = frames.groupBy(col("media_id"))
      .agg(transform(sort_array(collect_list(struct(col("frame_idx"),
        col("energy")))), s => s.getField("energy")).as("e"))
      .select(col("media_id").as("id"),
        expr("""aggregate(sequence(0, 30), CAST(0 AS BIGINT), (acc, i) ->
          |  acc + IF(element_at(e, i + 2) > element_at(e, i + 1),
          |           shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"""
          .stripMargin).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = perceptualDedup(fps, bandBits = 8, hamThr = 4, cap = 16,
      entityCol = "n_clips", distinctCol = "n_distinct_fps",
      candCol = "cand_fp_pairs", dupCol = "dup_fp_pairs")
    fps.unpersist()
    out
  }

  /** DuckDB replay from `documents`: sample bytes re-derived by cycling
    * the ASCII text (variant 1 applies the +2 DC shift, clipped),
    * 8-sample frame energies, 31 delta-sign bits into the same BIGINT,
    * then the identical collapse → df-capped band join → Hamming
    * verify → group-product expansion. */
  val q374Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS tlen
      |  FROM documents WHERE doc_id % 3 = 1),
      |b AS (
      |  SELECT doc_id, v.variant, CAST(i // 8 AS INTEGER) AS frame_idx,
      |    CASE WHEN v.variant = 1
      |      THEN least(ascii(substr(text, CAST(i % tlen AS INTEGER) + 1,
      |        1)) + 2, 255) - 128
      |      ELSE ascii(substr(text, CAST(i % tlen AS INTEGER) + 1, 1))
      |        - 128
      |    END AS v
      |  FROM d CROSS JOIN (VALUES (0), (1)) v(variant)
      |  CROSS JOIN LATERAL unnest(range(0, 256)) AS t(i)),
      |fe AS (
      |  SELECT doc_id, variant, frame_idx,
      |    CAST(SUM(v * v) AS BIGINT) AS energy
      |  FROM b GROUP BY 1, 2, 3),
      |fp AS (
      |  SELECT a.doc_id, a.variant,
      |    CAST(SUM(CASE WHEN n.energy > a.energy
      |      THEN (CAST(1 AS BIGINT) << a.frame_idx) ELSE 0 END)
      |      AS BIGINT) AS h
      |  FROM fe a JOIN fe n ON n.doc_id = a.doc_id
      |    AND n.variant = a.variant AND n.frame_idx = a.frame_idx + 1
      |  WHERE a.frame_idx < 31
      |  GROUP BY 1, 2),
      |ih AS (SELECT doc_id + 100000 * variant AS id, h FROM fp),
      |grp AS (SELECT h, COUNT(*) AS g FROM ih GROUP BY h),
      |exact AS (
      |  SELECT COUNT(*) AS n_distinct_fps,
      |    CAST(SUM((g * (g - 1)) // 2) AS BIGINT) AS exact_dup_pairs
      |  FROM grp),
      |pl AS (
      |  SELECT CAST(bit_count(xor(o.h, c.h)) AS BIGINT) AS ham,
      |    CASE WHEN ((o.h >> 0) & 255) = ((c.h >> 0) & 255)
      |      OR ((o.h >> 8) & 255) = ((c.h >> 8) & 255)
      |      OR ((o.h >> 16) & 255) = ((c.h >> 16) & 255)
      |      OR ((o.h >> 24) & 255) = ((c.h >> 24) & 255)
      |    THEN 1 ELSE 0 END AS reach
      |  FROM (SELECT id, h FROM ih WHERE id < 100000) o
      |  JOIN (SELECT id - 100000 AS id, h FROM ih WHERE id >= 100000) c
      |    USING (id)),
      |pls AS (
      |  SELECT COUNT(*) AS planted_total,
      |    CAST(SUM(CASE WHEN ham = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS planted_exact,
      |    CAST(SUM(reach) AS BIGINT) AS planted_band_reachable,
      |    CAST(SUM(CASE WHEN ham <= 4 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS planted_dups,
      |    MAX(ham) AS max_planted_ham
      |  FROM pl),
      |inv AS (
      |  SELECT h, g, j, (h >> CAST(8 * j AS INTEGER)) & 255 AS v
      |  FROM grp CROSS JOIN LATERAL unnest(range(0, 4)) AS t(j)),
      |bk AS (SELECT j, v, COUNT(*) AS bs FROM inv GROUP BY 1, 2),
      |dropped AS (
      |  SELECT CAST(SUM(CASE WHEN bs > 16 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS buckets_dropped
      |  FROM bk),
      |kept AS (SELECT inv.* FROM inv JOIN bk USING (j, v) WHERE bs <= 16),
      |cand AS (
      |  SELECT DISTINCT a.h AS ha, b.h AS hb2, a.g AS ga, b.g AS gb
      |  FROM kept a JOIN kept b
      |    ON a.j = b.j AND a.v = b.v AND a.h < b.h),
      |sc AS (
      |  SELECT *, CAST(bit_count(xor(ha, hb2)) AS BIGINT) AS ham
      |  FROM cand),
      |near AS (
      |  SELECT COUNT(*) AS cand_fp_pairs,
      |    CAST(COALESCE(SUM(CASE WHEN ham <= 4 THEN 1 ELSE 0 END), 0)
      |      AS BIGINT) AS dup_fp_pairs,
      |    CAST(COALESCE(SUM(CASE WHEN ham <= 4 THEN ga * gb ELSE 0 END),
      |      0) AS BIGINT) AS near_dup_id_pairs
      |  FROM sc),
      |ni AS (SELECT COUNT(*) AS n_clips FROM ih WHERE id < 100000)
      |SELECT n_clips, n_distinct_fps, exact_dup_pairs,
      |  planted_total, planted_exact, planted_band_reachable,
      |  planted_dups, max_planted_ham, buckets_dropped, cand_fp_pairs,
      |  dup_fp_pairs,
      |  exact_dup_pairs + near_dup_id_pairs AS dup_id_pairs_total
      |FROM ni, exact, pls, dropped, near""".stripMargin

  // --------------------------------------------------------------- q386
  /** End-to-end multimodal curation ledger — the composition
    * certificate for the media family, the way q154 is for text
    * curation and q275 for vector stores: four stages, each REUSING
    * its registered operator's plan (composition, not
    * reimplementation), reduced to one verdict row apiece. Stage
    * semantics: a_decode — containers decoded, frames recovered,
    * payload bytes (ratio = frames per container); b_image_dedup /
    * c_audio_dedup — corpus size, id-level duplicate pairs found,
    * planted copies confirmed (ratio = planted recall at the
    * threshold); d_audio_vad — frames scanned, frames active, segments
    * (ratio = activity share). One frame a platform's nightly media
    * job emits; any stage drifting breaks the oracle hash of the whole
    * ledger.
    *
    * Exactness: every cell is an integer or a single snapped division
    * off the (already hash-certified) stage outputs.
    *
    * Scale shape: the four registered plans, each reduced by one
    * map-combinable aggregate; the union is 4 rows. */
  def q386MultimodalLedger(spark: SparkSession, dir: String): DataFrame = {
    val dec = q29MediaFeatures(spark, dir)
      .agg(sum(col("n_media")).as("n_items"),
        sum(col("total_frames")).as("n_detected"),
        sum(col("total_payload_bytes")).as("detail"))
      .select(lit("a_decode").as("stage"), col("n_items"),
        col("n_detected"), col("detail"),
        (round(col("n_detected").cast("double") /
          col("n_items").cast("double"), 6) + lit(0.0)).as("ratio"))
    def dedupStage(name: String, df: DataFrame, items: String) =
      df.select(lit(name).as("stage"), col(items).as("n_items"),
        col("dup_id_pairs_total").as("n_detected"),
        col("planted_dups").as("detail"),
        (round(col("planted_dups").cast("double") /
          col("planted_total").cast("double"), 6) + lit(0.0)).as("ratio"))
    // the image and audio dedup components are independent and each
    // materializes eagerly at construction (perceptualDedup checkpoints
    // its 1-row certificate) — overlap them (r18, guide §2.6); the
    // decode and VAD branches are lazy and ride the final union's action
    val (imgDf, audDf) = graft.plans.Overlap.two(
      q370ImagePhashDedup(spark, dir), q374AudioFpDedup(spark, dir))
    val img = dedupStage("b_image_dedup", imgDf, "n_images")
    val aud = dedupStage("c_audio_dedup", audDf, "n_clips")
    val vad = q360AudioSegments(spark, dir)
      .agg(sum(col("n_frames")).as("n_items"),
        sum(col("n_active")).as("n_detected"),
        sum(col("n_segments")).as("detail"))
      .select(lit("d_audio_vad").as("stage"), col("n_items"),
        col("n_detected"), col("detail"),
        (round(col("n_detected").cast("double") /
          col("n_items").cast("double"), 6) + lit(0.0)).as("ratio"))
    dec.unionAll(img).unionAll(aud).unionAll(vad).orderBy("stage")
  }

  val q386Sql: String =
    s"""SELECT 'a_decode' AS stage,
      |  (SELECT CAST(SUM(n_media) AS BIGINT) FROM ($q29Sql)) AS n_items,
      |  (SELECT CAST(SUM(total_frames) AS BIGINT) FROM ($q29Sql))
      |    AS n_detected,
      |  (SELECT CAST(SUM(total_payload_bytes) AS BIGINT) FROM ($q29Sql))
      |    AS detail,
      |  (SELECT round(CAST(SUM(total_frames) AS DOUBLE)
      |     / CAST(SUM(n_media) AS DOUBLE), 6) + 0.0 FROM ($q29Sql))
      |    AS ratio
      |UNION ALL
      |SELECT 'b_image_dedup', n_images, dup_id_pairs_total, planted_dups,
      |  round(CAST(planted_dups AS DOUBLE)
      |    / CAST(planted_total AS DOUBLE), 6) + 0.0
      |FROM ($q370Sql)
      |UNION ALL
      |SELECT 'c_audio_dedup', n_clips, dup_id_pairs_total, planted_dups,
      |  round(CAST(planted_dups AS DOUBLE)
      |    / CAST(planted_total AS DOUBLE), 6) + 0.0
      |FROM ($q374Sql)
      |UNION ALL
      |SELECT 'd_audio_vad',
      |  (SELECT CAST(SUM(n_frames) AS BIGINT) FROM ($q360Sql)),
      |  (SELECT CAST(SUM(n_active) AS BIGINT) FROM ($q360Sql)),
      |  (SELECT CAST(SUM(n_segments) AS BIGINT) FROM ($q360Sql)),
      |  (SELECT round(CAST(SUM(n_active) AS DOUBLE)
      |     / CAST(SUM(n_frames) AS DOUBLE), 6) + 0.0 FROM ($q360Sql))
      |ORDER BY stage""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q29_media_features", q29MediaFeatures _, q29Sql),
    Query("q333_frame_stats", q333FrameStats _, q333Sql),
    Query("q360_audio_segments", q360AudioSegments _, q360Sql),
    Query("q370_image_phash_dedup", q370ImagePhashDedup _, q370Sql),
    Query("q374_audio_fp_dedup", q374AudioFpDedup _, q374Sql),
    Query("q386_multimodal_ledger", q386MultimodalLedger _, q386Sql))
}
