package org.apache.spark.sql.graftx

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.expressions.{Aggregator, ReduceAggregator}

/** Minimal private[sql] bridge: Column ⇄ Expression for wiring custom
  * Catalyst expressions (e.g. graft.functions.QDotProduct) into the
  * public Column API, and Spark's private[sql] ReduceAggregator for
  * graft.core.Graft's reduce. Spark 4 moved these conversions behind
  * `private[sql] classic.ExpressionUtils`, so the bridge lives in the
  * org.apache.spark.sql namespace; it contains no logic of its own.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The aggregator typed `reduceGroups` runs, for a relational
    * `groupBy(...).agg(udaf(...))`. */
  def reduceAggregator[V: Encoder](f: (V, V) => V): Aggregator[V, _, V] = new ReduceAggregator[V](f)
}
