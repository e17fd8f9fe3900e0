package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.sources.Filter

/** Access shims for `protected[sql]` Spark internals we intentionally reuse
  * instead of reimplementing (Catalyst filter translation).
  */
object SparkShims {
  def translateFilter(e: Expression): Option[Filter] =
    DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true)

  /** Column <-> Catalyst Expression bridges (Spark 4 moved these behind
    * ColumnNode; ExpressionUtils is the supported internal bridge).
    */
  def column(e: Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expr(c: org.apache.spark.sql.Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** FULLY-CONVERTED Catalyst expression of a Column (recursive ColumnNode
    * → Expression conversion). `expr` returns a lazy ColumnNodeExpression
    * wrapper that only Dataset API boundaries convert — inside a
    * FunctionRegistry builder (SQL function registration) the wrapper
    * would survive to codegen and fail as Unevaluable; this runs the
    * converter eagerly instead.
    */
  def realExpr(c: org.apache.spark.sql.Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Drop ALL cached DSv2 catalog instances so the next use re-reads
    * `spark.sql.catalog.<name>.*` — CatalogManager caches instances per
    * session and never invalidates on conf change, so re-pointing a
    * catalog name at a different warehouse silently keeps the old
    * instance without this. SIDE EFFECTS (it is CatalogManager.reset):
    * besides dropping every cached catalog (and any in-memory state they
    * held), the session's current catalog/namespace revert to the
    * defaults — a prior `USE mycat.ns` is forgotten. Intended for suite
    * setup / session re-initialization, BEFORE any USE statements.
    */
  def resetCatalogCache(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalogManager.reset()

  /** DataFrame over an analyzed/resolvable logical plan. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** DataFrame over an RDD of internal rows whose partitions are each
    * sorted ascending by `orderedBy` (column names of `schema`). The
    * ordering and the size estimate are reported to Catalyst, so a local
    * sort it already satisfies is removed and joins plan from the size.
    */
  def rowsFrame(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType, orderedBy: Seq[String],
      sizeInBytes: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    val output = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)
    val ordering = orderedBy.map(n => SortOrder(output.find(_.name == n).get, Ascending))
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val plan = org.apache.spark.sql.execution.LogicalRDD(output, rdd,
      outputOrdering = ordering)(session,
      Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(BigInt(sizeInBytes))))
    ofRows(spark, plan)
  }

  /** Analyzed logical plan of a (classic) DataFrame. */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** Rebind a micro-batch DataFrame as a plain batch frame over the SAME
    * physical rows (no re-analysis, no second source read) — the standard
    * sink-side bridge for DSv1 streaming sinks.
    */
  def rebindMicroBatch(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val spark = ds.sparkSession
    spark.internalCreateDataFrame(ds.queryExecution.toRdd, ds.schema, isStreaming = false)
  }

  /** Driver-side xxhash64 of one literal, matching the executor-side
    * `xxhash64(col)` used when the bloom was built (seed 42).
    */
  def xxhash64Literal(dt: org.apache.spark.sql.types.DataType, value: Any): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val v = org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst(value)
    XxHash64(Seq(Literal.create(v, dt)), 42L)
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[Long]
  }

  /** Mark a batch DataFrame as streaming — required of DataFrames a DSv1
    * streaming Source returns from getBatch.
    */
  def asStreamingFrame(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val spark = ds.sparkSession
    spark.internalCreateDataFrame(ds.queryExecution.toRdd, ds.schema, isStreaming = true)
  }

  /** Construct a PartitionedFile for the file-source read function
    * (insulates callers from the constructor churn across Spark versions).
    */
  def partitionedFile(
      partitionValues: org.apache.spark.sql.catalyst.InternalRow,
      path: String,
      start: Long,
      length: Long): org.apache.spark.sql.execution.datasources.PartitionedFile =
    org.apache.spark.sql.execution.datasources.PartitionedFile(
      partitionValues,
      org.apache.spark.paths.SparkPath.fromPathString(path),
      start, length, Array.empty, 0L, length)

  /** Write `df` as `format` files under `path`, one directory level per
    * `partitionBy` column, through Spark's `FileFormatWriter` — the writer
    * `DataFrameWriter.save` reaches, called directly (the pattern of Delta
    * Lake's TransactionalWrite.writeFiles) so `statsTrackers` see every row
    * of every file. No V1Writes rule runs here: the writer sorts only when
    * the frame's own order does not already cluster the partition columns,
    * so a pre-arranged (dirs, key) order reaches the files intact. The
    * write is its own SQL execution, visible to QueryExecutionListeners.
    */
  def writeFiles(df: org.apache.spark.sql.DataFrame,
      format: org.apache.spark.sql.execution.datasources.FileFormat,
      path: String, partitionBy: Seq[String], options: Map[String, String],
      statsTrackers: Seq[org.apache.spark.sql.execution.datasources.WriteJobStatsTracker])
      : Unit = {
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter}
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val session = ds.sparkSession
    val qe = session.sessionState.executePlan(ds.logicalPlan)
    SQLExecution.withNewExecutionId(qe, Some("save")) {
      val plan = qe.executedPlan
      val partitionColumns = partitionBy.map(n => plan.output.find(_.name == n)
        .getOrElse(throw new IllegalArgumentException(s"no column $n to partition by")))
      val hadoopConf = session.sessionState.newHadoopConfWithOptions(options)
      val committer = org.apache.spark.internal.io.FileCommitProtocol.instantiate(
        session.sessionState.conf.fileCommitProtocolClass,
        java.util.UUID.randomUUID().toString, path)
      // the basic tracker reports the task output metrics (bytes, records)
      val basic = new BasicWriteJobStatsTracker(
        new org.apache.spark.util.SerializableConfiguration(hadoopConf),
        BasicWriteJobStatsTracker.metrics)
      FileFormatWriter.write(session, plan, format, committer,
        FileFormatWriter.OutputSpec(path, Map.empty, plan.output), hadoopConf,
        partitionColumns, None, basic +: statsTrackers, options)
    }
  }
}
