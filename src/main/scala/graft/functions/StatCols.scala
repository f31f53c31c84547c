package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{aggregate, call_function, lit}

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
  *    partition-order-dependent `sum`.
  */
object StatCols {

  def dbl(c: Column): Column = c.cast("double")

  def pln(c: Column): Column = call_function("portable_ln", dbl(c))

  /** `f(e0) + f(e1) + …` over `list`, accumulated left to right from 0.0. */
  def sumInOrder(list: Column)(f: Column => Column): Column =
    aggregate(list, lit(0.0), (acc, e) => acc + f(e))
}
