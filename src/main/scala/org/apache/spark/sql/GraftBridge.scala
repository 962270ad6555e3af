package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the package-private Column ⇄ Expression converters so
  * graft's native Catalyst expressions (e.g. SimHash64) can be exposed
  * as `Column`s — the standard pattern for Spark extension libraries. */
object GraftBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Eagerly convert a Column to a plain catalyst Expression tree (no
    * deferred ColumnNode wrapper) — required when splicing a
    * functions._-built Column into a hand-constructed LogicalPlan
    * (e.g. a table-function Generate), where the analyzer won't
    * resolve the lazy wrapper. */
  def eagerExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Register a function builder into an EXISTING session's registry —
    * the post-hoc twin of `SparkSessionExtensions.injectFunction` for
    * sessions built without `spark.sql.extensions`. */
  def registerFunction(
      spark: SparkSession,
      name: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(name, info, builder)

  /** The exact INVALID_URL error `parse_url` raises in ANSI mode —
    * `QueryExecutionErrors` is private[sql], so native URL kernels
    * reach it through here. */
  def invalidUrlError(url: org.apache.spark.unsafe.types.UTF8String,
      e: java.net.URISyntaxException): Throwable =
    org.apache.spark.sql.errors.QueryExecutionErrors
      .invalidUrlError(url, e)

  /** Drop a TOP-LEVEL global Sort from a DataFrame's plan, if present —
    * for compositions that UNION many individually-registered queries
    * into one unordered sink (the report family's append): each member
    * query ends with a global `orderBy` that positions its STANDALONE
    * oracle compare, but inside the union the per-member order is
    * provably dead (parquet append order is not an observable of the
    * composed result, and every family consumer re-sorts totally), so
    * executing 31 range exchanges + sample passes for it is pure waste.
    * Rows are untouched — only the top ordering node is removed. */
  def withoutTopSort(df: DataFrame): DataFrame =
    df.queryExecution.logical match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort
          if s.global =>
        classic.Dataset.ofRows(
          df.sparkSession.asInstanceOf[classic.SparkSession], s.child)
      case _ => df
    }

  /** Block until every event already posted to the context's listener
    * bus has been delivered: SparkListeners and QueryExecutionListeners
    * run asynchronously on it, and `listenerBus` is private[spark]. */
  def waitListenerBusEmpty(sc: org.apache.spark.SparkContext,
      timeoutMs: Long = 60000): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Give `key` the default `value` on a live SparkConf unless the user
    * already set it (builder `.config`, `--conf`, a `-Dspark.*` property
    * or spark-defaults all land there first, so an explicit value always
    * wins). The conf defaults to the active SparkContext's own — the one
    * `SparkContext.conf` (private[spark]) exposes and a new session's
    * state copies its static SQL confs from; `getConf` would only hand
    * back a copy. A no-op when no SparkContext is running. */
  def contextConfDefault(key: String, value: String,
      conf: Option[org.apache.spark.SparkConf] =
        org.apache.spark.SparkContext.getActive.map(_.conf)): Unit =
    conf.foreach(_.setIfMissing(key, value))

  /** One parquet footer's Spark schema exactly as Spark's own schema
    * inference (`ParquetFileFormat.mergeSchemasInParallel`) derives it:
    * the writer's embedded Spark schema when present, else Spark's
    * footer converter, configured from `spark`'s conf the same way. */
  def parquetFooterSchema(spark: SparkSession,
      footer: org.apache.parquet.hadoop.Footer)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.conf
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation =
          conf.parquetReaderRespectUnknownTypeAnnotation))
  }

  /** `schema` with every level nullable, as a file relation reads it. */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** Table-function twin of [[registerFunction]]. */
  def registerTableFunction(
      spark: SparkSession,
      name: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    spark.asInstanceOf[classic.SparkSession]
      .sessionState.tableFunctionRegistry
      .registerFunction(name, info, builder)
}
