package graft.spark

import graft.spark.v2.GraftSparkTable
import graft.table.GraftTable
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `format("graft")` integration:
  *
  *  - batch read: `spark.read.format("graft").load(path)` resolves, as a
  *    [[org.apache.spark.sql.connector.catalog.TableProvider]], to the
  *    [[graft.spark.v2.GraftSparkTable]] relation `GraftTable.toDF` reads:
  *    merged for primary-key tables, pruned, DV-masked, schema-aligned,
  *    with statistics and columnar reads. Options `scan.snapshot-id` /
  *    `scan.tag-name` time-travel; `read-optimized=true` reads the
  *    fully-compacted files only, as `GraftTable.readOptimized` does.
  *  - batch write: `df.write.format("graft").option("primary-keys", ...)
  *    .save(path)` — creates the table on first write.
  *  - streaming read: snapshot-delta microbatches (offset = snapshot id),
  *    changelog rows with `_row_kind` (reference: DataTableStreamScan
  *    .java:51).
  *  - streaming write: idempotent per-batch commits keyed by batchId
  *    (reference: FileStoreCommitImpl.filterCommitted:202-207).
  *
  * The table this provider hands Spark supports batch reads only, so Spark
  * keeps writes and streams on the V1 source and sink below.
  */
class GraftDataSource extends TableProvider with RelationProvider
    with CreatableRelationProvider
    with StreamSourceProvider with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("graft: 'path' must be specified"))

  // ---------------- batch read ----------------

  private def existing(options: java.util.Map[String, String]): Option[GraftTable] = {
    val spark = SparkSession.active
    Option(options.get("path")).filter(GraftTable.exists(spark, _))
      .map(GraftTable.load(spark, _))
  }

  // the table keeps its own schema; Spark's inferred or given one is not used
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    existing(options).map(_.schema.structType).getOrElse(new StructType())

  /** The table at `path`. A path with no table yet (the first write of a
    * batch or stream) gets a table without capabilities, which sends Spark
    * to the V1 write, stream or read fallback.
    */
  override def getTable(given: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    existing(properties) match {
      case Some(t) =>
        new GraftSparkTable(t.spark, t, Identifier.of(Array.empty[String],
          new org.apache.hadoop.fs.Path(t.location).getName), readOnly = true)
      case None =>
        val path = String.valueOf(properties.get("path"))
        new Table {
          override def name(): String = path
          override def schema(): StructType = given
          override def capabilities(): java.util.Set[TableCapability] =
            java.util.Collections.emptySet()
        }
    }

  /** Reached only when no table exists at the path (an existing table reads
    * through [[getTable]]): fails naming the path.
    */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    schemaOnly(GraftTable.load(sqlContext.sparkSession, pathOf(parameters)))

  private def schemaOnly(table: GraftTable): BaseRelation = new BaseRelation {
    override def sqlContext: SQLContext = table.spark.sqlContext
    override def schema: StructType = table.schema.structType
  }

  // ---------------- batch write ----------------

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    val exists = GraftTable.exists(spark, path)
    val table =
      if (exists) GraftTable.load(spark, path)
      else GraftTable.createForWrite(spark, path, data.schema, parameters)
    val mergeSchema = parameters.get("merge-schema").exists(_.toBoolean)
    mode match {
      case SaveMode.Append if mergeSchema => table.writeWithSchemaMerge(data)
      case SaveMode.Append => table.write(data)
      case SaveMode.Overwrite => table.overwrite(data)
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(s"graft table already exists at $path")
      case SaveMode.Ignore if exists => ()
      case _ => table.write(data)
    }
    schemaOnly(table)
  }

  // ---------------- streaming read ----------------

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    val table = GraftTable.load(sqlContext.sparkSession, pathOf(parameters))
    ("graft", GraftSource.schemaFor(table))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new GraftSource(sqlContext.sparkSession, pathOf(parameters), parameters)

  // ---------------- streaming write ----------------

  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink =
    new GraftSink(sqlContext.sparkSession, pathOf(parameters), parameters)
}

/** Microbatch source over the snapshot chain: each batch is the raw delta of
  * snapshots (start, end], with `_row_kind`/`_sequence_number` changelog
  * columns — `changelog-producer = input` semantics (reference:
  * DeltaFollowUpScanner.java:29, PaimonMicroBatchStream.scala:32).
  *
  * Offsets are snapshot ids, so replay after failure re-plans the same
  * snapshot range — exactly-once with a downstream idempotent sink.
  */
class GraftSource(spark: SparkSession, path: String,
    options: Map[String, String]) extends Source {

  private val table = GraftTable.load(spark, path)
  /** Start mode: latest-full / latest / from-snapshot / from-timestamp /
    * from-watermark — see [[GraftTable.streamingStartExclusive]].
    */
  private val startExclusive: Long = table.streamingStartExclusive(options)

  // source lineage: job → table read edge, once per query run
  graft.core.Lineage.record(table.store.fs, table.store.rootPath, "source",
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .getOrElse("unknown"),
    table.store.latestSnapshotId.getOrElse(-1L))

  override def schema: StructType = GraftSource.schemaFor(table)

  override def getOffset: Option[org.apache.spark.sql.execution.streaming.Offset] =
    table.store.latestSnapshotId.filter(_ > startExclusive).map(LongOffset(_))

  private val fullFirst = table.streamingFullFirst(options)

  override def getBatch(start: Option[org.apache.spark.sql.execution.streaming.Offset],
      end: org.apache.spark.sql.execution.streaming.Offset): DataFrame = {
    val from = start.map(o => o.json().toLong).getOrElse(startExclusive)
    val to = end.json().toLong
    // durable read progress at PLAN time (see GraftMicroBatchStream
    // .planInputPartitions): Spark never calls commit() after the final
    // AvailableNow batch, so the in-flight batch's exclusive start is the
    // crash-safe pin; commit() below advances it when Spark does call it.
    options.get("consumer-id").foreach(id => table.store.writeConsumer(id, from + 1))
    // latest-full / from-snapshot-full: the FIRST batch (start = None, so
    // deterministic under checkpoint recovery) is the full merged state as
    // of the batch end — a delta replay from 0 would silently lose rows
    // once expiration dropped early snapshots (reference:
    // FullStartingScanner). Later batches are plain delta replays.
    val frame =
      if (fullFirst && start.isEmpty) GraftSource.fullFrame(table, to)
      else table.incremental(from, to)
    org.apache.spark.sql.graft.SparkShims.asStreamingFrame(frame)
  }

  override def commit(end: org.apache.spark.sql.execution.streaming.Offset): Unit = {
    // durable read progress, pins snapshots from expiry (reference:
    // consumer files, Consumer.java:36)
    options.get("consumer-id").foreach { id =>
      table.store.writeConsumer(id, end.json().toLong + 1)
    }
  }

  override def stop(): Unit = ()
}

object GraftSource {
  def schemaFor(table: GraftTable): StructType = {
    import org.apache.spark.sql.types._
    StructType(
      StructField("_row_kind", StringType) +:
      StructField("_sequence_number", LongType) +:
      table.schema.structType.fields.toIndexedSeq)
  }

  /** Full merged state as of snapshot `to`, shaped like the changelog
    * schema: every live row is a +I at sequence `to`.
    */
  def fullFrame(table: GraftTable, to: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    table.toDF(to).select(
      lit("+I").as("_row_kind") +: lit(to).as("_sequence_number") +:
        table.schema.structType.fields.toIndexedSeq.map(f => col(f.name)): _*)
  }
}

/** Streaming sink: per-epoch commit carrying the batch id as the commit
  * identifier; replayed batches are recognized and skipped, giving
  * exactly-once (reference: PaimonSink.scala:31 + commitIdentifier dedup).
  */
class GraftSink(spark: SparkSession, path: String,
    options: Map[String, String]) extends Sink {

  override def name(): String = s"GraftSink[$path]"

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val table =
      if (GraftTable.exists(spark, path)) GraftTable.load(spark, path)
      else GraftTable.createForWrite(spark, path, data.schema, options)
    // rebind over the SAME physical rows — no re-analysis, no second read
    // of the micro-batch source
    val fresh = org.apache.spark.sql.graft.SparkShims.rebindMicroBatch(data)
    // per-writer exactly-once scope: the checkpoint location is stable for
    // a query's lifetime and distinct across queries (Snapshot.commitUser)
    val user = options.getOrElse("checkpointLocation", "")
    val snap =
      if (table.isPrimaryKeyed)
        table.upsert(fresh, commitIdentifier = batchId, commitUser = user)
      else table.append(fresh, commitIdentifier = batchId, commitUser = user)
    // sink lineage: job → table edge per committed epoch ($sink_lineage)
    graft.core.Lineage.record(table.store.fs, table.store.rootPath, "sink",
      Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
        .getOrElse(user),
      snap.id, batchId)
  }
}
