package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, InterpretedMutableProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge. Spark 4 keeps these conversions
  * `private[sql]`, so extension libraries host a one-liner inside an
  * `org.apache.spark.sql` subpackage — the standard pattern for shipping
  * custom Catalyst expressions (no Spark internals are modified).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `schema` with every field, element and value nullable — the schema a
    * file-source read surfaces (`StructType.asNullable` is `private[spark]`). */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** A DataFrame over driver rows of `schema` — a LocalRelation, so Spark
    * folds projections and filters over it on the driver. */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** `cols` as a driver function over row batches of `schema`, and its
    * output schema: the Columns resolved once against a LocalRelation of
    * `schema`, then evaluated per row by Catalyst's interpreted projection
    * — the evaluation `ConvertToLocalRelation` performs when Spark folds
    * the same projection over a LocalRelation, without a query's planning
    * and execution per batch. */
  def localProjection(spark: SparkSession, schema: StructType,
                      cols: Seq[Column]): (StructType, Seq[InternalRow] => Seq[InternalRow]) =
    localFrame(spark, schema, Nil).select(cols: _*).queryExecution.analyzed match {
      case p @ Project(list, child) =>
        (p.schema, rows => {
          val proj = new InterpretedMutableProjection(list, child.output)
          proj.initialize(0)
          rows.map(r => proj(r).copy())
        })
      case other => throw new IllegalStateException(s"not a projection: $other")
    }

  /** Materialize the driver's StateStoreCoordinator RPC endpoint (a
    * `private[sql]` lazy member that normally only a streaming query start
    * touches). BATCH `transformWithState` tasks still resolve it, so a
    * batch-first run in a fresh session would otherwise die with
    * RpcEndpointNotFound.
    */
  def ensureStateStoreCoordinator(spark: SparkSession): Unit =
    spark.streams match {
      case m: org.apache.spark.sql.classic.StreamingQueryManager =>
        m.stateStoreCoordinator: Unit
      case _ => ()
    }
}
