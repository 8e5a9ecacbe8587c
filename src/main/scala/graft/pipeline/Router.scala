package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.control.NonFatal

import graft.ingest.{Clean, Schemas, Validate}
import graft.plans.Eager
import graft.sink.AuditLog

/** The ingestion pipeline's routing + audit state machine (reference
  * `dags/process_sales_dags.py:119-206`), with the INTENDED branch
  * semantics: the reference's own code expands quarantine AND process over
  * every file unconditionally — a confirmed race bug (SURVEY §3.1) — while
  * its docstring, README, and audit schema all describe routing on the
  * validation verdict. We implement the documented behavior: invalid →
  * quarantine only; valid → process → load.
  *
  * Status state machine (same strings as `sql/create_tables.sql:20` /
  * the DAG): `validated → processed → loaded`, with per-stage failure
  * statuses `validation_failed | processing_failed | load_failed` and the
  * matching quarantine prefixes `failed/{validation_failed,
  * processing_failed,loading_failed}/`.
  *
  * Scale posture: routing is per-FILE control flow — driver-side metadata
  * operations (list, rename, audit rows), never data movement. The data
  * path (read → clean → load) is fully distributed; a 100 TB drop of many
  * files processes each file as a splittable scan, and `Stream.drain` layers
  * checkpointed discovery on top of the same [[ingestFile]].
  */
object Router {

  /** Bucket = base URI + the reference's prefix convention
    * (`README.md:53-59`). Works for local paths and s3a:// alike via the
    * Hadoop FileSystem API (rename = the reference's copy+delete move,
    * `minio_client.py:96-108`). */
  final case class Bucket(base: String) {
    val incoming = s"$base/incoming"
    val processed = s"$base/processed"
    def failed(reason: String) = s"$base/failed/$reason"
  }

  final case class FileOutcome(
      key: String, status: String, rows: Long, error: Option[String])

  final case class RunReport(outcomes: Seq[FileOutcome]) {
    def byStatus(s: String): Seq[String] =
      outcomes.filter(_.status == s).map(_.key)
    def totalLoaded: Long =
      outcomes.filter(_.status == "loaded").map(_.rows).sum
  }

  /** List file keys under `incoming/` (`minio_client.py:45-65`; the
    * paginated list collapses to one FS call), skipping the names Spark's
    * file source skips (`HadoopFSUtils.shouldFilterOutPathName`): hidden
    * `.name` files such as `.name.crc`, `_name` files, and `name._COPYING_`,
    * the name `hadoop fs -put` writes before its rename. So a half-copied
    * file waits for its rename, and the batch and streaming drains see the
    * same files. */
  def listIncoming(spark: SparkSession, bucket: Bucket): Seq[String] = {
    val fs = fsOf(spark, bucket.incoming)
    val p = new Path(bucket.incoming)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isFile).map(_.getPath.getName)
      .filterNot(skipped).toSeq.sorted
  }

  private def skipped(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))

  /** ensure_bucket equivalent (`minio_client.py:32-42`). */
  def ensure(spark: SparkSession, bucket: Bucket): Unit = {
    val fs = fsOf(spark, bucket.base)
    (Seq(bucket.incoming, bucket.processed) ++
      Seq("validation_failed", "processing_failed", "loading_failed")
        .map(bucket.failed))
      .foreach(d => fs.mkdirs(new Path(d)))
  }

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Quarantine/archive move (`minio_client.py:96-108`). */
  private def move(spark: SparkSession, from: String, toDir: String): Unit = {
    val fs = fsOf(spark, from)
    val src = new Path(from)
    val dst = new Path(toDir, src.getName)
    fs.mkdirs(new Path(toDir))
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"move failed: $from -> $dst")
  }

  /** Run one batch over everything in `incoming/`, one [[ingestFile]] per
    * file in name order. */
  def runBatch(spark: SparkSession, bucket: Bucket, audit: AuditLog.Sink,
               load: DataFrame => Long): RunReport = {
    ensure(spark, bucket)
    RunReport(listIncoming(spark, bucket).map(ingestFile(spark, bucket, _, audit, load)))
  }

  /** Ingest one file of `incoming/` with the intended
    * validate→route→process→load semantics, auditing every stage and moving
    * the file to `processed/` or `failed/<reason>/`. `load` is the pluggable
    * warehouse leg (JDBC upsert in production, parquet/count in tests) and
    * must return the row count it wrote. The batch and the streaming drain
    * (`Stream.drain`) both ingest through here. */
  def ingestFile(spark: SparkSession, bucket: Bucket, name: String,
                 audit: AuditLog.Sink, load: DataFrame => Long): FileOutcome = {
    val path = s"${bucket.incoming}/$name"
    Validate.check(spark, path) match {
      case Left(error) =>
        audit.log(Schemas.AuditEntry(name, bucket.base, "validation_failed",
          Some(0L), Some(error)))
        move(spark, path, bucket.failed("validation_failed"))
        FileOutcome(name, "validation_failed", 0L, Some(error))
      case Right(raw) =>
        audit.log(Schemas.AuditEntry(name, bucket.base, "validated", None, None))
        // ---- process stage (clean → dedup of the frame validation read),
        // materialised once: the checkpoint's job also yields the row
        // count, and the load reads the checkpoint instead of the file.
        // Retries are Spark task retries; a stage failure → quarantine.
        val cleanedOrErr =
          try Right(Eager.ckptCounted(Clean.cleanSales(raw)))
          catch { case NonFatal(e) => Left(e) }
        cleanedOrErr match {
          case Left(e) =>
            audit.log(Schemas.AuditEntry(name, bucket.base, "processing_failed",
              Some(0L), Some(String.valueOf(e.getMessage))))
            move(spark, path, bucket.failed("processing_failed"))
            FileOutcome(name, "processing_failed", 0L, Some(String.valueOf(e.getMessage)))
          case Right((cleaned, nRows)) =>
            audit.log(Schemas.AuditEntry(name, bucket.base, "processed",
              Some(nRows), None))
            // ---- load stage
            try {
              val loaded = load(cleaned)
              move(spark, path, bucket.processed)
              audit.log(Schemas.AuditEntry(name, bucket.base, "loaded",
                Some(loaded), None))
              FileOutcome(name, "loaded", loaded, None)
            } catch {
              case NonFatal(e) =>
                audit.log(Schemas.AuditEntry(name, bucket.base, "load_failed",
                  Some(0L), Some(String.valueOf(e.getMessage))))
                move(spark, path, bucket.failed("loading_failed"))
                FileOutcome(name, "load_failed", 0L, Some(String.valueOf(e.getMessage)))
            }
        }
    }
  }
}
