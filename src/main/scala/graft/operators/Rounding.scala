package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.floor

/** The output-rounding policy: every reported score is rounded half-up to
  * s decimals as `floor(x * 10^s + 0.5) / 10^s`, the expression the DuckDB
  * oracle ([[graft.oracle.DuckSql]]) evaluates. Spark's `round` is
  * BigDecimal HALF_UP over the double's binary expansion, DuckDB's is a
  * scaled-double round, and the two disagree whenever a rational score
  * (a jaccard, a ratio of counts, a decimal-average quotient) lands
  * exactly on a tie; the floor form is bit-identical in both engines.
  * `round(x, s)` stays safe only where x is already exact at ≤ s decimals
  * (money sums) or irrational (cosines, sqrt norms).
  *
  * `u2`/`u4`/`u6` are the scaled half-up integers themselves (BIGINT for
  * a double input): the exact form for sums and keys — sum units, divide
  * once. The scales are Int literals, so the analyzed plans are the ones
  * the hand-written copies built.
  */
private[graft] object Rounding {
  def u2(c: Column): Column = floor(c * 100 + 0.5)
  def u4(c: Column): Column = floor(c * 10000 + 0.5)
  def u6(c: Column): Column = floor(c * 1000000 + 0.5)
  def r2(c: Column): Column = u2(c) / 100
  def r4(c: Column): Column = u4(c) / 10000
  def r6(c: Column): Column = u6(c) / 1000000

  /** An exact sum of u4 money units as a half-up 2dp amount. */
  def money(u: Column): Column = floor(u.cast("double") / 100 + 0.5) / 100
}
