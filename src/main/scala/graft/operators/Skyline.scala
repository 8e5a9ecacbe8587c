package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Query
import graft.queries.Kpis

/** 2-D Pareto skyline: the rows not strictly dominated on a
  * (minimize cost, maximize gain) pair — a row survives unless some
  * other row is ≤ on cost AND ≥ on gain with at least one strict.
  * The textbook formulation is a quadratic self-anti-join; this
  * operator reduces it to two map-side-combinable aggregates and a
  * broadcast semi-join, which is the shape that survives 100 TB.
  */
object Skyline {

  /** Keep exactly the non-dominated rows of `df`.
    *
    * Plan: (1) collapse to the per-cost maximum gain — a hash aggregate
    * with map-side combine, the only pass over the full data; (2) on
    * that ≤|distinct cost| frontier table, a prefix-max window ordered
    * by cost marks the costs whose best gain strictly beats every
    * strictly-cheaper cost (ties on both coordinates are co-skyline:
    * neither dominates, so the equi-join back keeps them all); (3) a
    * broadcast LEFT SEMI join restores the surviving full rows.
    *
    * The window runs on ONE partition, but over the collapsed frontier
    * table, not the data: its size is |distinct cost values|, which for
    * priced/sized/scored domains is orders of magnitude below row count
    * (2-dp prices ⇒ ≤10⁴ rows per 100-unit band regardless of data
    * scale). For a truly continuous cost at extreme cardinality, bucket
    * costs first and run this per-bucket with carried prefix maxima —
    * same algebra, one more agg.
    *
    * NULL contract (ADVICE r11): rows with a NULL cost or gain are
    * EXCLUDED from both the frontier and the output — dominance is
    * undefined on a missing coordinate, so such rows are filtered
    * explicitly up front rather than dropped incidentally by the
    * non-null-safe semi-join. Callers who want NULL-coordinate rows
    * kept must route them around the operator.
    */
  def skyline2d(df: DataFrame, cost: Column, gain: Column): DataFrame = {
    val rows = df.filter(cost.isNotNull && gain.isNotNull)
    val frontier = rows
      .groupBy(cost.as("sky_cost"))
      .agg(max(gain).as("sky_gain"))
    val prevBest = Window.orderBy(col("sky_cost"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val survivors = frontier
      .withColumn("sky_prev", max(col("sky_gain")).over(prevBest))
      .filter(col("sky_prev").isNull || col("sky_gain") > col("sky_prev"))
      .select("sky_cost", "sky_gain")
    rows.join(broadcast(survivors),
      cost === col("sky_cost") && gain === col("sky_gain"), "left_semi")
  }

  // --------------------------------------------------------------- q134
  /** Pareto-optimal parts: cheapest-for-their-size frontier over
    * (minimize p_retailprice, maximize p_size). The oracle is the
    * quadratic NOT EXISTS dominance test — feasible at oracle scale,
    * exactly what the operator exists to avoid at data scale. Output
    * is raw columns only: hash-safe with no float arithmetic. */
  def q134PartSkyline(spark: SparkSession, dir: String): DataFrame =
    skyline2d(Kpis.table(spark, dir, "part"),
      col("p_retailprice"), col("p_size"))
      .select("p_partkey", "p_name", "p_retailprice", "p_size")
      .orderBy("p_retailprice", "p_size", "p_partkey")

  val q134Sql: String =
    """SELECT p_partkey, p_name, p_retailprice, p_size
      |FROM part p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part d
      |  WHERE d.p_retailprice <= p.p_retailprice AND d.p_size >= p.p_size
      |    AND (d.p_retailprice < p.p_retailprice OR d.p_size > p.p_size))
      |ORDER BY p_retailprice, p_size, p_partkey""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q134_part_skyline", q134PartSkyline _, q134Sql))
}
