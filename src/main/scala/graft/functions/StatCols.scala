package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{aggregate, call_function, col, lit}

/** The column vocabulary of the hash-checked statistics: each rule that
  * keeps a Spark double bit-identical to the DuckDB oracle is written
  * once here and imported by the query catalog and the quality/graph
  * operators.
  *
  *  - `dbl`: widen to DOUBLE before any floating-point step.
  *  - `pln`: a logarithm goes through `portable_ln`
  *    ([[PortableLn]], `Math.log`, libm-identical) on a DOUBLE. The cast
  *    is free for an argument that already is DOUBLE (Spark's
  *    `SimplifyCasts` drops it). The session must have `portable_ln`
  *    registered ([[GraftFunctions.register]]).
  *  - `sumInOrder`: a float sum folds the (sorted) list from left to
  *    right, one fixed IEEE sequence in both engines, never a
  *    partition-order-dependent `sum`. With a `lit(0L)` zero it is the
  *    exact BIGINT list sum (ANSI `+`: it throws on overflow).
  *  - `doubledMidrank`: twice the midrank of a tie group, exact BIGINT.
  *  - `coMoment`: the n-scaled co-moment, each factor widened first.
  */
object StatCols {

  def dbl(c: Column): Column = c.cast("double")

  def pln(c: Column): Column = call_function("portable_ln", dbl(c))

  /** `f(e0) + f(e1) + …` over `list`, accumulated left to right from
    * `zero`. */
  def sumInOrder(list: Column, zero: Column = lit(0.0))(
      f: Column => Column): Column =
    aggregate(list, zero, (acc, e) => acc + f(e))

  /** `2·(t_cum − t) + t + 1` for a tie count `t` and its running total
    * `t_cum`: the doubled midrank keeps half-ranks integral. */
  def doubledMidrank(t: String): Column =
    lit(2L) * (col(s"${t}_cum") - col(t)) + col(t) + lit(1L)

  /** `n·Σab − Σa·Σb` in DOUBLE: n² times the covariance; `sa = sb` (and
    * `sab` the sum of squares) gives n² times the variance. */
  def coMoment(n: Column, sab: Column, sa: Column, sb: Column): Column =
    dbl(n) * dbl(sab) - dbl(sa) * dbl(sb)
}
