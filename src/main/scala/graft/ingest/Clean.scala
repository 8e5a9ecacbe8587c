package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The cleaning + dedup transform — the heart of the reference pipeline
  * (`dags/src/processor.py:44-81`): every ingested row passes through it.
  *
  * Coercion rules (SURVEY §1.3), all expressed with `try_cast`-family
  * expressions so they are parse-or-NULL under Spark 4's default ANSI mode,
  * matching pandas `errors="coerce"`:
  *
  *  - all string columns trimmed; literal `"nan"` → NULL (`processor.py:59-61`)
  *  - `sale_date`: parse-or-NULL timestamp (`processor.py:64`)
  *  - `quantity`: string→double→int (so `"2.5"` truncates to 2 exactly like
  *    pandas `to_numeric(...).astype(int)` — SURVEY §7.3c), default 1
  *  - `amount`: parse-or-NULL double, default 0.0 (`processor.py:66`)
  *  - rows with NULL `sale_id` dropped (`processor.py:69-71`)
  *  - missing required columns added as NULL (`processor.py:53-56`), extras
  *    dropped by the final projection (`processor.py:80`)
  *
  * Everything is a narrow, codegen'd projection/filter — no shuffle — so at
  * 100 TB this runs at scan speed; the only shuffle in the whole transform is
  * the dedup window's hash partitioning on `sale_id` (below).
  *
  * Parity evidence: `cleanSales` over the reference's committed 1,200-row
  * sample (`data/sales.csv`) matches a pandas `clean_df`-semantics run
  * column-exactly on every field (ids, µs timestamps, coerced ints/doubles).
  */
object Clean {
  import Schemas.required

  /** Ingest-order tiebreak column for dedup determinism. Captured at read:
    * monotonically_increasing_id is ordered by (partition index, row within
    * partition) and file splits are assigned in offset order, so it extends
    * the reference's single-file "row order" to a distributed read. */
  val IngestOrder = "_ingest_order"

  def withIngestOrder(df: DataFrame): DataFrame =
    df.withColumn(IngestOrder, monotonically_increasing_id())

  /** Add any missing required column as NULL string (`processor.py:53-56`). */
  def ensureRequired(df: DataFrame): DataFrame =
    required.foldLeft(df)((d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast(StringType)))

  /** trim + `"nan"`→NULL for one string column (`processor.py:59-61`). */
  def scrub(c: Column): Column = nullif(trim(c), lit("nan"))

  /** Scrub every string column and coerce `sale_date`, `quantity` and
    * `amount` from their scrubbed values, as one projection that keeps the
    * input's column order; no row is dropped yet. */
  private def coerced(df: DataFrame): DataFrame = {
    val stringCols = df.schema.fields
      .filter(f => f.dataType == StringType).map(_.name).toSet
    def scrubbed(c: String): Column = if (stringCols(c)) scrub(col(c)) else col(c)
    val typed = Map(
      "sale_date" -> try_to_timestamp(scrubbed("sale_date")),
      "quantity" ->
        coalesce(scrubbed("quantity").try_cast("double").try_cast("int"), lit(1)),
      "amount" -> coalesce(scrubbed("amount").try_cast("double"), lit(0.0)))
    df.select(df.columns.toIndexedSeq.map(c =>
      typed.getOrElse(c, scrubbed(c)).as(c)): _*)
  }

  private val hasKey = col("sale_id").isNotNull

  /** The typed coercion of one frame, then the null-key filter; no dedup.
    * Keeps any non-required columns (e.g. the ingest-order tiebreak)
    * untouched. */
  def coerce(df: DataFrame): DataFrame = coerced(df).filter(hasKey)

  /** Dedup by `sale_id`, keep latest `sale_date`, deterministic tiebreak on
    * ingest order (SURVEY §2.4; reference `processor.py:73-77`).
    *
    * Deliberate divergences from the reference's literal pandas behavior,
    * per SURVEY §2.4/§3.1 "intended behavior is the spec":
    *  - pandas' `sort_values` (na_position='last') + `keep="last"` makes a
    *    NaT-dated row WIN over real dates; here NULL dates lose
    *    (`desc_nulls_last`) — keep-LATEST semantics.
    *  - pandas' default quicksort is unstable, so its tie order is
    *    unspecified; here ties break by last ingest order, deterministically.
    *
    * Scale: one hash shuffle on `sale_id` (the window partition key); no
    * global sort, no driver collection. At 100 TB this is the same shuffle a
    * GROUP BY sale_id would need — unavoidable for cross-partition dedup.
    */
  def dedupLatest(df: DataFrame,
                  key: String = "sale_id",
                  orderCol: String = "sale_date",
                  tiebreak: String = IngestOrder): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col(orderCol).desc_nulls_last, col(tiebreak).desc)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Full `clean_df` equivalent (`processor.py:44-81`): ensure columns →
    * scrub → coerce → drop null keys → dedup keep-latest → final projection
    * in warehouse column order. Input is an all-string frame from [[Readers]];
    * a `_ingest_order` column is added here if absent. */
  def cleanSales(df: DataFrame, dedup: Boolean = true): DataFrame =
    finish(coerce(prepared(df)), dedup)

  private def prepared(df: DataFrame): DataFrame =
    ensureRequired(if (df.columns.contains(IngestOrder)) df else withIngestOrder(df))

  private def finish(df: DataFrame, dedup: Boolean): DataFrame =
    (if (dedup) dedupLatest(df) else df).select(required.map(col): _*)

  /** cleanSales with drop-count observability (the reference logs
    * "Dropped %d rows missing sale_id", `processor.py:69-71`). Metrics ride
    * the SAME action via the Observation API — no second pass over the
    * data: after the caller's first action, `obs.get` carries `rows_in`
    * and `rows_null_key` (dropped = rows_null_key; dedup removals =
    * rows_in - rows_null_key - output count). */
  def cleanSalesObserved(df: DataFrame, obs: org.apache.spark.sql.Observation,
                         dedup: Boolean = true): DataFrame =
    finish(coerced(prepared(df))
      .observe(obs,
        count(lit(1)).as("rows_in"),
        count(when(col("sale_id").isNull, 1)).as("rows_null_key"))
      .filter(hasKey), dedup)

  /** Typed view of the cleaned frame: downstream code that wants
    * compile-time field access works on `Dataset[Sale]` (the post-clean
    * schema is exactly the case class; NULL quantity/amount cannot occur —
    * both carry defaults). */
  def cleanSalesTyped(df: DataFrame, dedup: Boolean = true): Dataset[Schemas.Sale] = {
    val cleaned = cleanSales(df, dedup)
    cleaned.as[Schemas.Sale](org.apache.spark.sql.Encoders.product[Schemas.Sale])
  }
}
