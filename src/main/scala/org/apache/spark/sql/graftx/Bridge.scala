package org.apache.spark.sql.graftx

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, If, IsNull, Literal, ScalaUDF}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.expressions.{Aggregator, ReduceAggregator}
import org.apache.spark.sql.types.DataType

/** Minimal private[sql] bridge: Column ⇄ Expression for wiring custom
  * Catalyst expressions (e.g. graft.functions.QDotProduct) into the
  * public Column API, and the two aggregates graft.core.Graft's reduce
  * runs a user function `(V, V) => V` through: [[FlatReduce]] when V is
  * one mutable fixed-width column, Spark's private[sql] ReduceAggregator
  * for every other V. Spark 4 moved the conversions behind `private[sql]
  * classic.ExpressionUtils`, so the bridge lives in the org.apache.spark.sql
  * namespace; the choice between the two aggregates is Graft's.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The aggregator typed `reduceGroups` runs, for a relational
    * `groupBy(...).agg(udaf(...))`: an object aggregate over a
    * serialized `(Boolean, V)` buffer. */
  def reduceAggregator[V: Encoder](f: (V, V) => V): Aggregator[V, _, V] = new ReduceAggregator[V](f)

  /** The Catalyst type of V's one column when V's encoder never writes
    * null (the Scala primitives), else None. */
  def nonNullType(ev: Encoder[_]): Option[DataType] = {
    val e = encoderFor(ev)
    Some(e.objSerializer).filter(s => !e.isSerializedAsStruct && !s.nullable).map(_.dataType)
  }

  /** The columns an aggregator whose input encoder is `ev` reads V from,
    * given V's column `c`: a struct-serialized V (a product) reads one
    * column per field, any other V reads `c` itself. */
  def inputs(c: Column, ev: Encoder[_]): Seq[Column] =
    if (encoderFor(ev).isSerializedAsStruct) ev.schema.fieldNames.toSeq.map(c.getField) else Seq(c)

  /** `c`, the `_2` of a pair whose value encoder is `ev`, failing on a
    * null with the NOT_NULL_ASSERT_VIOLATION a pair decoder raises. */
  def notNull(c: Column, ev: Encoder[_]): Column = column(AssertNotNull(expression(c),
    Seq(s"""- field (class: "${ev.clsTag.runtimeClass.getName}", name: "_2")""", """- root class: "scala.Tuple2"""")))

  /** `f` over the non-null column `c` as a [[FlatReduce]] aggregate. */
  def flatReduce[V](f: (V, V) => V, c: Column): Column =
    column(FlatReduce(expression(c), f).toAggregateExpression())
}

/** An opaque reducer `f` over one mutable fixed-width column as a Catalyst
  * aggregate, so Spark plans it as a whole-stage-codegen HashAggregate
  * instead of an ObjectHashAggregate. The one buffer slot is null until
  * the first value, so `f` needs no identity: update keeps the input or
  * folds it in, merge keeps the non-null side or folds both. `f` runs
  * through a ScalaUDF and only ever sees non-null values; the input must
  * be non-null. */
case class FlatReduce(child: Expression, f: AnyRef) extends DeclarativeAggregate with UnaryLike[Expression] {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "reduce"

  private lazy val acc = AttributeReference("acc", dataType)()
  private def call(a: Expression, b: Expression): Expression =
    ScalaUDF(f, dataType, Seq(a, b), udfName = Some("reducer"), nullable = false)

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(acc)
  override lazy val initialValues: Seq[Expression] = Seq(Literal(null, dataType))
  override lazy val updateExpressions: Seq[Expression] = Seq(If(IsNull(acc), child, call(acc, child)))
  override lazy val mergeExpressions: Seq[Expression] = Seq(
    If(IsNull(acc.left), acc.right, If(IsNull(acc.right), acc.left, call(acc.left, acc.right))))
  override lazy val evaluateExpression: Expression = acc

  override protected def withNewChildInternal(c: Expression): FlatReduce = copy(child = c)
}
