package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.pipeline.Router
import graft.sink.AuditLog

/** Incremental ingest as Structured Streaming (SURVEY §2.6 T1–T5): the
  * reference's 30 s `PythonSensor` poll + cron micro-batch + per-file task
  * fan-out collapses onto the streaming file source, which IS a
  * directory-poll discovery mechanism with checkpointed exactly-once file
  * tracking. Each discovered file goes through [[Router.ingestFile]], the
  * batch path's validate → route → clean → load → audit.
  *
  *  - T1 sensor poll      → file source discovery (`Trigger.AvailableNow`
  *                          for drain-now)
  *  - T2 serial batches   → default streaming semantics (one micro-batch
  *                          at a time, its files in name order)
  *  - T3 per-file fan-out → one `ingestFile` per discovered path; Spark
  *                          parallelizes WITHIN files by split
  *  - T4 processed-file tracking → the checkpoint's file log (a file is
  *                          discovered once per path)
  *  - T5 at-least-once + quarantine → task retries + checkpoint replay;
  *                          a failing stage moves the file to
  *                          `failed/<reason>/` with its audit row instead
  *                          of wedging the query
  *
  * Scale posture: the file source lists incrementally, state lives in the
  * checkpoint not the driver heap, and the clean/dedup/load plan inside
  * each batch is the batch path's own — one code path for both.
  */
object Stream {

  /** Discovery-only file stream over EVERYTHING in the drop zone: the
    * `binaryFile` source with only `path` selected — `BinaryFileFormat`
    * prunes the `content` column, so no file data is ever read — giving a
    * checkpoint-tracked, exactly-once file LISTING. This is the streaming
    * twin of `Router.listIncoming`, and it is format-agnostic: no extension
    * glob, so array-form JSON and extensionless files are discovered too. */
  def fileDiscoveryStream(spark: SparkSession, incomingDir: String): DataFrame = {
    val binaryFileSchema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    spark.readStream.format("binaryFile").schema(binaryFileSchema)
      .load(s"$incomingDir/*").select(col("path"))
  }

  /** Drain every file currently in `incoming/` through [[Router.ingestFile]],
    * exactly once per path (checkpoint-tracked): the same verdicts, moves,
    * audit rows and `load` calls as `Router.runBatch` over the same files.
    * A replayed micro-batch (a restart after a crash mid-batch) skips the
    * files an earlier attempt already moved out of `incoming/`. To
    * re-process a repaired file from `failed/<reason>/`, use
    * [[requeueQuarantined]] — dropping it back under its ORIGINAL name is
    * skipped forever, because the checkpoint dedups discovery on the path.
    *
    * The per-batch `collect()` is file PATHS only — one row per file,
    * metadata scale, same as the Router's driver-side listing. */
  def drain(spark: SparkSession, bucket: Router.Bucket, checkpointDir: String,
            audit: AuditLog.Sink, load: DataFrame => Long): Router.RunReport = {
    Router.ensure(spark, bucket)
    val outcomes = scala.collection.mutable.ArrayBuffer.empty[Router.FileOutcome]
    val query = fileDiscoveryStream(spark, bucket.incoming)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val present = Router.listIncoming(spark, bucket).toSet
        val names = batch.collect().map(r => new Path(r.getString(0)).getName)
        outcomes ++= names.filter(present).sorted
          .map(Router.ingestFile(spark, bucket, _, audit, load))
        ()
      }
      .start()
    query.awaitTermination()
    Router.RunReport(outcomes.toSeq)
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
    // this file.
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
