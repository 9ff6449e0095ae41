package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` surface: wrapping a custom Catalyst
  * expression into a public `Column` (and back) has no public API in
  * Spark 4 — `classic.ExpressionUtils` is package-private. This object
  * lives in the sql package purely to re-export those two conversions for
  * graft's custom expressions.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Whether the session's CacheManager holds any entries — the class is
    * `private[sql]`, so specs reach it through here to assert operators
    * with Cleaner-scoped caches (Packing.globalCumsum) never leave a
    * session-lifetime cache entry behind.
    */
  def cacheManagerIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** The analyzed logical plan OBJECT a Dataset embeds into plans derived
    * from it (`private[sql]` in Spark 4). Packing.globalCumsum registers
    * its cache-release Cleaner on this node: every derived Dataset holds
    * it as a subtree (plan child pointers only go downward), so the cache
    * lives exactly as long as some plan that can still read it.
    */
  def logicalPlanOf(df: Dataset[_]): AnyRef =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** Column → Catalyst expression via the FULL ColumnNode conversion (the
    * one Dataset.select applies), yielding `UnresolvedFunction` nodes the
    * analyzer can resolve. [[expression]] is a thin wrapper fine for
    * already-resolved trees; function-registry BUILDERS need this form —
    * a wrapped unresolved node would survive analysis and fail at
    * codegen.
    */
  def resolvableExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Catalyst's size estimate for a Dataset's optimized plan, in bytes
    * (`queryExecution` is `private[sql]` in Spark 4). A planning-time
    * statistic — file sizes × projection ratio for scans — used to pick
    * scale-adaptive write widths without running a job.
    */
  def planSizeInBytes(df: Dataset[_]): Long = {
    val stats = df.asInstanceOf[classic.Dataset[_]]
      .queryExecution.optimizedPlan.stats.sizeInBytes
    if (stats.isValidLong) stats.toLong else Long.MaxValue
  }

  /** The session's effective `spark.sql.files.maxPartitionBytes` (typed
    * accessor lives on the `private[sql]` SQLConf): the scan split size,
    * used to predict how many tasks a file scan will get without
    * planning it.
    */
  def filesMaxPartitionBytes(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.filesMaxPartitionBytes

  /** The scan width Spark's own file sources aim for
    * (`FilePartition.maxSplitBytes`): `spark.sql.files.minPartitionNum`,
    * or else the session's leaf-node default parallelism (`private[sql]`).
    */
  def filesMinPartitionNum(spark: SparkSession): Int = {
    val s = spark.asInstanceOf[classic.SparkSession]
    s.sessionState.conf.filesMinPartitionNum.getOrElse(s.leafNodeDefaultParallelism)
  }

  /** The session's Hadoop conf WITH session-level `spark.hadoop.*` /
    * `fs.*` overrides applied — `sessionState` is `private[sql]` in
    * Spark 4, so connectors can't call `newHadoopConf()` directly.
    */
  def sessionHadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** Register a SQL function on an EXISTING session (the function
    * registry is `private[sql]`; the `spark.sql.extensions` path only
    * applies at session construction).
    */
  def registerFunction(spark: SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] => org.apache.spark.sql.catalyst.expressions.Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(ident, info, builder)

  /** Register a TABLE-VALUED function on an existing session (same
    * `private[sql]` story as [[registerFunction]], against the
    * TableFunctionRegistry — `SELECT * FROM fn(args)`).
    */
  def registerTableFunction(spark: SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.tableFunctionRegistry
      .registerFunction(ident, info, builder)

  /** A forked session sharing SharedState (catalogs, cache manager) with
    * an isolated COPY of the session state — confs, temp views — as of
    * the call (`cloneSession` is `private[sql]` in Spark 4). Lets an
    * operator flip a planner conf for ONE statement without a toggle
    * window or lock on the shared session (StreamingOps' count-state
    * MERGE disables runtime group filtering this way).
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** A DSv2 relation over an already-built connector [[org.apache.spark.sql.connector.catalog.Table]] —
    * the logical plan a table-valued function returns.
    */
  def v2Relation(table: org.apache.spark.sql.connector.catalog.Table,
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
      table, None, None, options)
}
