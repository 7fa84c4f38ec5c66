package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column <-> Expression converters — the
  * standard mechanism for third-party Catalyst expressions on Spark 4.x
  * (Column no longer exposes `.expr` publicly).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** EAGER Column → Expression conversion. `expression` wraps the column
    * node lazily (`ColumnNodeExpression`), which the analyzer will not
    * descend into when the expression is returned from a FunctionRegistry
    * builder — eager conversion yields a plain (possibly Unresolved*)
    * Catalyst tree the analyzer resolves to fixpoint like any SQL macro.
    */
  def eagerExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Re-tag a BATCH DataFrame's physical plan as a STREAMING micro-batch
    * (`internalCreateDataFrame(..., isStreaming = true)`) — the standard
    * V1 streaming-Source `getBatch` mechanism (FileStreamSource and
    * Delta's DeltaSource both return exactly this shape): the batch plan
    * executes when the micro-batch runs, and the engine sees a streaming
    * relation.
    */
  def asStreamingBatch(spark: SparkSession, df: DataFrame): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd,
      df.schema, isStreaming = true)
  }

  /** Materialize a resolved logical plan as a DataFrame (the
    * `Dataset.ofRows` bridge) — used by the SQL DML rule to hand MERGE's
    * source plan to the engine's merge operator.
    */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `StructType.asNullable` (`private[spark]`): a file relation's data
    * schema is nullable at every depth, as `DataSource.resolveRelation`
    * makes it.
    */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** Construct a DSv2 literal carrying a catalyst-internal value — the
    * representation Spark's runtime-filter translation sends to
    * `SupportsRuntimeV2Filtering.filter` (`LiteralValue` is `private[sql]`
    * at the Scala-signature level in this build, so tests build the
    * production shape through this bridge).
    */
  def v2Literal(value: Any, dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.connector.expressions.Literal[Any] =
    org.apache.spark.sql.connector.expressions.LiteralValue(value, dt)
}
