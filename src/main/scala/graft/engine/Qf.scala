package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Helpers shared by operators to keep results bit-identical with the
  * DuckDB oracle (see SURVEY.md §5):
  *
  *  - money/quantity aggregates run over DECIMAL(12,2) (exact, associative,
  *    order-independent) and are cast to DOUBLE only at the very end, so
  *    Spark's parallel partial aggregation and DuckDB's sequential sum
  *    produce the same bits;
  *  - averages are expressed as `CAST(decimal_sum AS DOUBLE) / count` so
  *    both engines perform one identical IEEE division;
  *  - dates/timestamps are exported as formatted strings or epoch integers.
  */
object Qf {
  val D12: DecimalType = DecimalType(12, 2)

  /** Exact 2-decimal view of a money/quantity double. */
  def dec(c: Column): Column = c.cast(D12)

  def dbl(c: Column): Column = c.cast("double")

  /** Decimal-exact sum exported as double. */
  def dsum(c: Column): Column = dbl(sum(dec(c)))

  /** Order-independent average: one IEEE division of exact operands. */
  def davg(c: Column): Column = dbl(sum(dec(c))) / count(lit(1))

  val D38: DecimalType = DecimalType(38, 0)

  /** Exact integer square root: floor(√x) of a non-negative
    * decimal(38,0) column, engine-independent BY CONSTRUCTION.
    *
    * Why not `floor(sqrt(double))` alone: IEEE sqrt is correctly
    * rounded in both engines, but x itself loses precision as a double
    * above 2⁵³ and the ×/floor boundary can then land one integer off —
    * and round 7 proved (CORRECTNESS_r07: p33/p40 hash-fail on the
    * driver, bit-exact locally) that ANY double in a hashed chain is
    * driver-fragile. Here the double only SEEDS the answer; a ±2
    * integer-compare correction window (c² ≤ x in exact decimal
    * arithmetic) picks the true floor, so both engines compute the
    * identical BIGINT for identical inputs no matter their libm.
    *
    * Valid for 0 ≤ x < ~8.4e37 (root must fit a LONG seed; x and c²
    * must fit decimal(38,0)). The seed's total error is < 1 integer up
    * to x ≈ 1e31 and < 2 beyond, hence the ±2 window. */
  def isqrt(x: Column): Column = {
    val c0 = floor(sqrt(dbl(x))).cast(D38)
    def fits(c: Column): Column = c * c <= x
    when(fits(c0 + 2), c0 + 2)
      .when(fits(c0 + 1), c0 + 1)
      .when(fits(c0), c0)
      .when(fits(c0 - 1), c0 - 1)
      .otherwise(greatest(c0 - 2, lit(0).cast(D38)))
  }

  /** DuckDB twin of [[isqrt]]: same seed + identical ±2 integer
    * correction in HUGEINT arithmetic. `x` is a SQL expression that is
    * (or coerces to) HUGEINT; it is repeated textually — pass a column
    * reference or a cheap expression (the engine CSEs it). */
  def isqrtSql(x: String): String = {
    val c0 = s"CAST(FLOOR(SQRT(CAST(($x) AS DOUBLE))) AS HUGEINT)"
    s"""CASE WHEN ($c0+2)*($c0+2) <= ($x) THEN $c0+2
       | WHEN ($c0+1)*($c0+1) <= ($x) THEN $c0+1
       | WHEN ($c0)*($c0) <= ($x) THEN $c0
       | WHEN ($c0-1)*($c0-1) <= ($x) THEN $c0-1
       | ELSE GREATEST($c0-2, CAST(0 AS HUGEINT)) END""".stripMargin
  }
}
