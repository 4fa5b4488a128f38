package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` Column/Expression conversions (the supported
  * pattern for third-party Catalyst expressions on Spark 4's split Column). */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Interpreted ascending ordering for an orderable data type (struct,
    * atomic, array) — bridge to catalyst's private ordering factory. */
  def interpretedOrdering(dt: org.apache.spark.sql.types.DataType): Ordering[_] =
    catalyst.util.TypeUtils.getInterpretedOrdering(dt)

  /** Apply a `SparkSessionExtensions => Unit` (e.g. graft.GraftExtensions)
    * to an EXISTING session's function registry — test seam for the
    * `spark.sql.extensions` deploy path, which only runs at session build. */
  def installFunctionExtensions(
      f: SparkSessionExtensions => Unit,
      spark: SparkSession
  ): Unit = {
    val ext = new SparkSessionExtensions
    f(ext)
    ext.registerFunctions(spark.sessionState.functionRegistry)
  }

  /** Blocks until every event posted so far has reached every listener
    * (`private[spark]` LiveListenerBus), so counters read afterwards are
    * complete without sleeping. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A DataFrame over `plan` in `df`'s session (`private[sql]` ofRows). */
  def ofRows(df: DataFrame, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession], plan)
}

package execution {

  /** Bridge into `private[execution]` members, like [[GraftBridge]]. */
  object GraftExecutionBridge {

    /** Appends each row of `schema` to `vectors`, one vector per field
      * (RowToColumnConverter: nested structs, arrays and nulls included). */
    def rowAppender(
        schema: types.StructType,
        vectors: Array[vectorized.WritableColumnVector]
    ): catalyst.InternalRow => Unit = {
      val converter = new RowToColumnConverter(schema)
      row => converter.convert(row, vectors)
    }
  }
}
