package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine exact-arithmetic helpers shared by the oracle-checked
  * queries (see README "Correctness & parity conventions").
  */
object ExactMath {

  /** ln rounded to 9 dp as exact DECIMAL(12,9) — the weighted-log grid
    * under the information-theoretic queries (q137/q138/q140/q141/q142).
    *
    * The precision is load-bearing: DECIMAL(12,9), not (18,9), because
    * Spark widens decimal×BIGINT to precision p+20+1 and at 39 > 38
    * silently TRIMS THE SCALE to 8 while DuckDB keeps 9 — the narrower
    * operand keeps every count-weighted product exact in both engines
    * (|ln| of any count ratio is < 10³ by a huge margin). Change it in
    * one place or not at all. */
  def ln9(e: Column): Column =
    round(log(e), 9).cast("decimal(12,9)")

  /** Round to 6 dp, then add 0.0: a value in (-0.5e-6, 0) rounds to +0.0
    * in Spark but -0.0 in DuckDB, and `+ 0.0` (`round(x, 6) + 0.0` in the
    * oracle) clears the sign bit on both engines (README "Correctness &
    * parity conventions", negative zero). */
  def r6(c: Column): Column = round(c, 6) + lit(0.0)
}
