package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Bridge to Spark's `private[sql]` internals so graft can expose
  * custom Catalyst expressions (codegen'd vector math) as plain
  * `Column`s in the DataFrame DSL and as named SQL functions on a
  * live session, and write through a file format instance.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Column → catalyst Expression via the real ColumnNode converter.
    * `ExpressionUtils.expression` only WRAPS the node
    * (ColumnNodeExpression, Unevaluable) and relies on the Dataset
    * API boundary to convert it later — fine inside
    * `df.select(...)`, but a tree returned from a SQL function
    * registry builder never crosses that boundary and fails codegen.
    * The converter produces the actual expression tree up front, so
    * bridged Columns work in BOTH the DSL and registered SQL
    * functions. */
  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  def registerFunction(
      spark: SparkSession,
      id: FunctionIdentifier,
      info: ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, info, builder)

  /** Register a table-valued function on a live session — the FROM-
    * clause analogue of registerFunction, backed by the session's
    * `tableFunctionRegistry` (the same registry `injectTableFunction`
    * feeds at session build). */
  def registerTableFunction(
      spark: SparkSession,
      id: FunctionIdentifier,
      info: ExpressionInfo,
      builder: Seq[Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    spark.asInstanceOf[classic.SparkSession]
      .sessionState.tableFunctionRegistry.registerFunction(id, info, builder)

  /** The analyzed logical plan of a DataFrame — what a TVF builder
    * returns so the whole pipeline inlines into the calling query's
    * plan (like a view expansion). */
  def analyzedPlan(df: Dataset[Row])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Write `df` into the new dir `dir` through `format` — the command
    * `df.write.format(...).save(dir)` plans, with a format INSTANCE
    * (one that carries per-write state) where the writer API only
    * takes a class name. */
  def writeFiles(df: Dataset[Row],
      format: org.apache.spark.sql.execution.datasources.FileFormat,
      dir: String): Unit = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val query = df.asInstanceOf[classic.Dataset[Row]].logicalPlan
    val path = new org.apache.hadoop.fs.Path(dir)
    val qualified = path.getFileSystem(session.sessionState.newHadoopConf())
      .makeQualified(path)
    session.sessionState.executePlan(
      org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand(
        qualified, Map.empty, ifPartitionNotExists = false,
        partitionColumns = Nil, bucketSpec = None, fileFormat = format,
        options = Map("path" -> dir), query = query,
        mode = SaveMode.ErrorIfExists, catalogTable = None, fileIndex = None,
        outputColumnNames = query.output.map(_.name)))
      .assertCommandExecuted()
  }

  /** `schema` with every field nullable, as a file source reads it. */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable
}
