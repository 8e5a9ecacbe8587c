package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import scala.util.control.NonFatal

import graft.ingest.{Clean, Readers, Schemas}
import graft.plans.Eager

/** Incremental ingest as Structured Streaming (SURVEY §2.6 T1–T5): the
  * reference's 30 s `PythonSensor` poll + cron micro-batch + per-file task
  * fan-out collapses onto the streaming file source, which IS a
  * directory-poll discovery mechanism with checkpointed exactly-once file
  * tracking.
  *
  *  - T1 sensor poll      → file source discovery (`Trigger.AvailableNow`
  *                          for drain-now, `ProcessingTime("30 seconds")`
  *                          for the literal cadence)
  *  - T2 serial batches   → default streaming semantics (one micro-batch
  *                          at a time)
  *  - T3 per-file fan-out → `input_file_name()` column; Spark additionally
  *                          parallelizes WITHIN files by split
  *  - T4 processed-file tracking → the checkpoint's file log (no moves
  *                          needed for consumption marking)
  *  - T5 at-least-once + quarantine → task retries + checkpoint replay;
  *                          `foreachBatch` catches sink failure and
  *                          quarantines the batch instead of wedging the
  *                          query
  *
  * Scale posture: at 100 TB/day the file source lists incrementally
  * (`maxFilesPerTrigger` caps batch size), state lives in the checkpoint
  * not the driver heap, and the clean/dedup/load plan inside each batch is
  * the same distributed plan as the batch path — one code path for both.
  */
object Stream {

  /** All-string file stream over `incoming/`, with source-file attribution
    * (T3). Streaming sources are single-format (the file source binds one
    * parser), so a mixed-format drop zone runs one stream per format over a
    * glob — the same discipline as partitioned lake layouts. `format` is
    * "csv" (default), "json" (NDJSON), or "parquet". */
  def salesFileStream(spark: SparkSession, incomingDir: String,
                      format: String = "csv",
                      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(Schemas.allString)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    val df = format match {
      case "csv" => r.option("header", "true").csv(s"$incomingDir/*.csv")
      case "json" =>
        r.option("primitivesAsString", "true").json(s"$incomingDir/*.{json,ndjson}")
      case "parquet" => r.parquet(s"$incomingDir/*.parquet")
      case other => throw new IllegalArgumentException(s"Unsupported format: $other")
    }
    df.withColumn("_source_file", input_file_name())
  }

  final case class BatchResult(batchId: Long, rows: Long, quarantined: Boolean)

  /** Drain everything currently in `incomingDir` through clean→dedup→load
    * exactly once per file (checkpoint-tracked), quarantining any batch the
    * sink rejects. Returns per-batch results. */
  def runAvailableNow(spark: SparkSession, incomingDir: String,
                      checkpointDir: String, quarantineDir: String,
                      load: DataFrame => Unit,
                      format: String = "csv"): Seq[BatchResult] = {
    val results = scala.collection.mutable.ArrayBuffer.empty[BatchResult]
    val query = salesFileStream(spark, incomingDir, format)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cleaned = Clean.cleanSales(batch.drop("_source_file"))
        try {
          val (materialised, n) = Eager.ckptCounted(cleaned)
          load(materialised)
          results += BatchResult(batchId, n, quarantined = false)
        } catch {
          case NonFatal(_) =>
            // T5: quarantine the raw batch (not the half-cleaned frame) so
            // the payload is re-processable after the sink issue is fixed.
            // "Re-processable" = read the quarantined parquet and re-run
            // clean→load directly (its part-files are fresh paths, so
            // re-dropping them into the drop zone also works); the
            // original SOURCE file's path stays checkpoint-seen forever —
            // re-submitting that one needs `requeueQuarantined`'s rename.
            batch.write.mode("append").parquet(quarantineDir)
            results += BatchResult(batchId, 0L, quarantined = true)
        }
        ()
      }
      .start()
    query.awaitTermination()
    results.toSeq
  }

  /** Discovery-only file stream over EVERYTHING in the drop zone: the
    * `binaryFile` source with only `path` selected — `BinaryFileFormat`
    * prunes the `content` column, so no file data is ever read — giving a
    * checkpoint-tracked, exactly-once file LISTING. This is the streaming
    * twin of `Router.listIncoming`, and it is format-agnostic: no extension
    * glob, so array-form JSON and extensionless files are discovered too. */
  def fileDiscoveryStream(spark: SparkSession, incomingDir: String,
                          maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val binaryFileSchema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    val r = spark.readStream.format("binaryFile").schema(binaryFileSchema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.load(s"$incomingDir/*").select(col("path"))
  }

  final case class FileResult(path: String, rows: Long, quarantined: Boolean)

  /** Format-sweeping streaming ingest: drain every file currently in the
    * drop zone — CSV, NDJSON, ARRAY-form JSON, parquet, and extensionless
    * files (magic-byte detection) — through detect→read→clean→load, exactly
    * once per file (checkpoint-tracked). Closes the single-format stream's
    * two gaps: the json file source cannot mix multiLine (array) and NDJSON
    * parsing in one glob, and extension globs skip extensionless files
    * silently. A file whose read/clean/load fails is MOVED to the
    * quarantine dir instead of wedging the query. To re-process a repaired
    * file, use `requeueQuarantined` — dropping it back under its ORIGINAL
    * name is silently skipped forever, because the file source's checkpoint
    * dedups discovery on the path.
    *
    * The per-batch `collect()` is file PATHS only — one row per file,
    * metadata scale, same as the Router's driver-side listing; each file's
    * actual read → clean → load is a fully distributed splittable scan. */
  def runAvailableNowSweep(spark: SparkSession, incomingDir: String,
                           checkpointDir: String, quarantineDir: String,
                           load: DataFrame => Unit): Seq[FileResult] = {
    val results = scala.collection.mutable.ArrayBuffer.empty[FileResult]
    val query = fileDiscoveryStream(spark, incomingDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val files = batch.select("path").collect().map(_.getString(0)).sorted
        files.foreach { f =>
          try {
            val (cleaned, n) =
              Eager.ckptCounted(Clean.cleanSales(Readers.readAllString(spark, f)))
            load(cleaned)
            results += FileResult(f, n, quarantined = false)
          } catch {
            case NonFatal(_) =>
              val src = new Path(f)
              val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
              val dir = new Path(quarantineDir)
              fs.mkdirs(dir)
              fs.rename(src, new Path(dir, src.getName))
              results += FileResult(f, 0L, quarantined = true)
          }
        }
        ()
      }
      .start()
    query.awaitTermination()
    results.toSeq
  }

  /** Re-queue a repaired quarantined file for ingestion. `FileStreamSource`
    * dedups discovery on the file PATH for the checkpoint's lifetime, so a
    * repaired file dropped back into the drop zone under its original name
    * is never picked up again. This moves it back under a fresh
    * attempt-suffixed name (`name.retry1.csv`, `.retry2.csv`, ...) — a path
    * the checkpoint has never seen — keeping the extension in place so
    * format dispatch still works. Returns the new path. */
  def requeueQuarantined(spark: SparkSession, quarantinedFile: String,
                         incomingDir: String): String = {
    val src = new Path(quarantinedFile)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(src), s"no such quarantined file: $quarantinedFile")
    val name = src.getName
    val (stem, ext) = name.lastIndexOf('.') match {
      case -1 => (name, "")
      case i => (name.substring(0, i), name.substring(i))
    }
    val dst = Iterator.from(1)
      .map(n => new Path(incomingDir, s"$stem.retry$n$ext"))
      .find(p => !fs.exists(p))
      .get
    fs.mkdirs(dst.getParent)
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed")
    // Contract: return the FULLY-QUALIFIED path (scheme + authority), i.e.
    // exactly the string the binaryFile discovery stream will report for
    // this file — so callers can correlate the requeue with the next
    // sweep's FileResult.path by plain equality.
    fs.makeQualified(dst).toString
  }

  /** Streaming dedup — the streaming twin of the batch
    * dedup-by-key-keep-latest (SURVEY §2.4): keeps the FIRST arrival per
    * `sale_id` inside the watermark via `dropDuplicatesWithinWatermark`,
    * which dedups on the KEY ALONE — a replayed key with a different
    * sale_date is still a duplicate and is dropped (plain
    * `dropDuplicates(key, eventTime)` would pass it through, protecting
    * only against bit-identical replays). The watermark bounds the dedup
    * state: keys older than the watermark are evicted — without it, state
    * grows with every key ever seen. Semantics differ from batch
    * deliberately: streaming keeps first-arrival (matching the upsert
    * sink's at-least-once replay protection), while the batch operator
    * picks latest-by-sale-date within a complete file. */
  def dedupStream(sales: DataFrame, eventTimeCol: String,
                  watermark: String = "1 hour"): DataFrame =
    sales.withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("sale_id")

  /** Streaming-capable tumbling-window aggregation (the streaming twin of
    * the batch hourly rollup, with a watermark bounding state): counts and
    * value sums per (hour, event_type). Works on any frame with an
    * event-time `ts` — batch or stream — because it is a pure plan. */
  def tumblingHourly(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n_events"), col("total_value"))
}
