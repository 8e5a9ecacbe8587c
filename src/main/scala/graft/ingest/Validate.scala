package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

/** Per-format schema-compliance checks (reference
  * `dags/src/validator.py:37-99`). Each format's check is written once and
  * returns the error text or, for a valid file, the all-string frame it
  * read ([[check]]); the `validate*` functions project that to the
  * reference's `(valid, error)` verdict.
  *
  * Sample bounds mirror the reference: CSV date-probes the first 50 values
  * (`validator.py:56`); JSON checks the first 100 records
  * (`validator.py:72`); parquet is a metadata-only schema inspection
  * (`validator.py:85-99` reads data, but the column-set check needs only
  * the footer — a deliberate upgrade: zero data scanned).
  *
  * Scale posture: validation cost is O(sample) per file regardless of file
  * size — bounded `take(n)` samples that never scan a 100 TB prefix.
  */
object Validate {
  import Schemas.requiredSet

  final case class ValidationResult(key: String, valid: Boolean, error: String)

  private def missingMsg(cols: Set[String]): Option[String] = {
    val missing = requiredSet -- cols
    if (missing.nonEmpty)
      Some(s"Missing required columns: ${missing.toSeq.sorted.mkString("[", ", ", "]")}")
    else None
  }

  /** A format check's outcome: the error text, or the all-string frame the
    * check read — the frame [[Clean.cleanSales]] consumes, so a valid file
    * is read once. */
  type Checked = Either[String, DataFrame]

  private def verdict(c: Checked): (Boolean, String) =
    c.fold(err => (false, err), _ => (true, ""))

  private def guarded(prefix: String)(body: => Checked): Checked =
    try body catch { case NonFatal(e) => Left(s"$prefix: ${e.getMessage}") }

  /** CSV: required ⊆ lowered header set, then the first 50 `sale_date`
    * values must all parse (`validator.py:37-61`; a non-null unparseable
    * value fails the file, like `errors="raise"`). The reference samples
    * ≤1000 rows for the header check; the header alone decides it here. */
  private def checkCsv(spark: SparkSession, path: String): Checked =
    guarded("CSV parse error") {
      val df = Readers.readCsv(spark, path)
      missingMsg(df.columns.toSet) match {
        case Some(m) => Left(m)
        case None =>
          // one job: the parse runs in Spark, the sample is judged here (a
          // filter under a `limit` would add an exchange and a second job)
          df.select(col("sale_date"), expr("try_to_timestamp(sale_date)"))
            .take(50).find(r => !r.isNullAt(0) && r.isNullAt(1)) match {
            case Some(r) =>
              Left(s"sale_date parse issue: unparseable value '${r.getString(0)}'")
            case None => Right(df)
          }
      }
    }

  /** JSON (array or NDJSON): every record in a ≤100-record sample must carry
    * all required keys (`validator.py:64-82` checks record-by-record, so one
    * key-less record among 100 fails the file even if other records have the
    * key). NDJSON: first 100 text lines, `json_object_keys` per line, then
    * the read; array form: schema-union check on the read.
    *
    * Intended-semantics divergence (same policy as the routing bug, SURVEY
    * §3.1): the reference's `validate_json` line-parses array files too, so
    * it rejects EVERY array-form file (`json.loads` on a bracket line
    * throws) even though its own reader supports arrays
    * (`processor.py:27-29`). We validate arrays properly. */
  private def checkJson(spark: SparkSession, path: String): Checked =
    guarded("JSON parse error") {
      if (Readers.isJsonArray(spark, path)) {
        val df = Readers.readJson(spark, path, array = true)
        missingMsg(df.columns.toSet).toLeft(df)
      } else {
        // one job, as for CSV: the keys of each line (NULL when it does not
        // parse) come from Spark, the sample is judged here
        val bad = spark.read.text(path)
          .filter(length(trim(col("value"))) > 0)
          .select(expr("transform(json_object_keys(value), k -> lower(k))"))
          .take(100)
          .map(r => Option(r.getSeq[String](0)).map(_.toSet))
          .find(keys => !keys.exists(requiredSet.subsetOf))
        bad match {
          case Some(None) => Left("JSON parse error: unparseable record")
          case Some(Some(ks)) =>
            Left(s"Missing columns: ${(requiredSet -- ks).toSeq.sorted.mkString("[", ", ", "]")}")
          case None => Right(Readers.readJson(spark, path, array = false))
        }
      }
    }

  /** Parquet: lowered column set ⊇ required — footer metadata only, no data
    * scan (`validator.py:85-99`). */
  private def checkParquet(spark: SparkSession, path: String): Checked =
    guarded("Parquet parse error") {
      val df = Readers.readParquet(spark, path)
      missingMsg(df.columns.toSet).toLeft(df)
    }

  def validateCsv(spark: SparkSession, path: String): (Boolean, String) =
    verdict(checkCsv(spark, path))

  def validateJson(spark: SparkSession, path: String): (Boolean, String) =
    verdict(checkJson(spark, path))

  def validateParquet(spark: SparkSession, path: String): (Boolean, String) =
    verdict(checkParquet(spark, path))

  /** Dispatch on the format, detected once (`process_sales_dags.py:124-136`). */
  def check(spark: SparkSession, path: String): Checked =
    try {
      Detect.forPath(path, spark.sparkContext.hadoopConfiguration) match {
        case Detect.Csv => checkCsv(spark, path)
        case Detect.Json => checkJson(spark, path)
        case Detect.Parquet => checkParquet(spark, path)
        case other => Left(s"Unknown format: $other")
      }
    } catch {
      case NonFatal(e) => Left(e.getMessage)
    }

  def validate(spark: SparkSession, path: String): ValidationResult = {
    val (valid, err) = verdict(check(spark, path))
    ValidationResult(path, valid, err)
  }
}
