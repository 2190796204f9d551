package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Numeric gate-column discipline shared by every query whose oracle
  * comparison hashes a rounded DOUBLE.
  */
object Num {

  /** `round(c, 6)` with the IEEE signed zero normalized to `+0.0`.
    *
    * Spark's `round` goes through BigDecimal HALF_UP, which drops the
    * sign of a tiny negative (`-2.6e-9 → +0.0`), while DuckDB's float
    * `round` keeps it (`→ -0.0`). The two are numerically `==` but differ
    * in the sign bit, so a byte/hash comparison of the parquet output
    * fails (this bit g36_modularity in round 10: 28 singleton communities
    * with `Q_c ≈ -2.6e-9`). `x + 0.0` is the IEEE idiom that maps `-0.0`
    * to `+0.0` and is the identity on every other value (including NULL,
    * NaN and ±Inf) — applied on BOTH engines it makes the gate
    * sign-bit-stable regardless of which way each engine's rounding goes.
    *
    * Every rounded-double gate column MUST flow through this helper (and
    * its SQL mirror must carry the matching `+ 0.0`).
    */
  def round6(c: Column): Column = round(c, 6) + lit(0.0)

  /** DuckDB mirror fragment of [[round6]] for inline SQL oracles. */
  def round6Sql(inner: String): String = s"(round($inner, 6) + 0.0)"

  /** Scalar twin of Spark's `round(x).cast("long")` for loops that run
    * outside Catalyst: HALF_UP on the shortest decimal form of the double
    * (`BigDecimal.valueOf`, exactly what Spark's `round` reads), so ties
    * round away from zero and `-0.0` gives `0`.
    */
  def halfUp(x: Double): Long =
    java.math.BigDecimal.valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue

  /** Scalar twin of [[round6]]: `round(x, 6) + 0.0`, the 1e-6 grid with the
    * signed zero normalized.
    */
  def grid6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue + 0.0
}
