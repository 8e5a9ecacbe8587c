package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-format all-string readers (reference `dags/src/processor.py:15-41`).
  *
  * Every format lands as an all-string DataFrame with normalized
  * (trim+lowercase) column names, so [[Clean.cleanSales]] is the single typed
  * coercion path for CSV, JSON-array, NDJSON, and parquet alike — exactly the
  * reference's `dtype=str` discipline (`processor.py:23`), re-expressed as
  * declarative scans Catalyst can prune and push filters into.
  *
  * Scale posture: these are plain `spark.read` scans — splittable (CSV/NDJSON
  * split by line, parquet by row group), so a 100 TB prefix parallelizes
  * across the cluster; nothing is downloaded driver-side (the reference's
  * `download_to_bytes` whole-file-in-memory step has no equivalent here by
  * design — SURVEY §2.1 S7).
  */
object Readers {

  /** `strip().lower()` on every column name (`processor.py:40`). */
  def normalizeColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.toIndexedSeq.map(_.trim.toLowerCase): _*)

  /** CSV with header, no inference → every column StringType
    * (`processor.py:23`). */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    normalizeColumns(spark.read.option("header", "true").csv(path))

  /** JSON: array form (`[...]`) as multiLine, else NDJSON — the caller
    * sniffs the form first ([[isJsonArray]]; the reference sniffs the first
    * non-blank line, `processor.py:24-33`). Primitives kept as strings so
    * coercion stays centralized in Clean. */
  def readJson(spark: SparkSession, path: String, array: Boolean): DataFrame = {
    val base = spark.read.option("primitivesAsString", "true")
    val df = if (array) base.option("multiLine", "true").json(path)
             else base.json(path)
    normalizeColumns(df)
  }

  /** Array-form JSON: the first non-blank character is `[`. */
  def isJsonArray(spark: SparkSession, path: String): Boolean =
    Detect.firstNonWsChar(path, spark.sparkContext.hadoopConfiguration).contains('[')

  /** Parquet read, then cast every column to string — parquet carries its own
    * types (`processor.py:34-35` reads them natively) but stringifying here
    * keeps one downstream coercion path; Clean re-derives the typed schema.
    * Timestamp→string→timestamp and double→string→double round-trip exactly
    * under the UTC session TZ. */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    normalizeColumns(
      df.select(df.columns.toIndexedSeq.map(c => col(c).cast("string").as(c)): _*))
  }
}
