package graft.spark.v2

import graft.GraftMeta
import graft.core.Snapshot
import graft.table.GraftTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRowLevelOperations}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkShims
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Row-level operations of a primary-key table through Spark's delta
  * protocol (`SupportsRowLevelOperations` + `SupportsDelta`): Spark's own
  * rewrites (RewriteDeleteFromTable / RewriteUpdateTable /
  * RewriteMergeIntoTable) plan UPDATE, MERGE and subquery DELETE as a
  * WriteDelta over [[GraftDeltaOperation]], for SQL and for the Scala
  * `update` / `mergeInto` alike. Every relation of a primary-key table the
  * catalogs or `toDF` hand out is this table ([[GraftSparkTable.apply]]).
  *
  * Execution shape: the LSM write IS a delta sink, so the protocol maps
  * 1:1 — each executor stages its stream of insert/update/delete callbacks
  * as parquet rows tagged with an op column (pure pass-through; DELETEs
  * materialize only the primary key, the merge engine drops by key), and
  * the driver-side commit routes the staged frame through the REGULAR
  * upsert (bucket shuffle, pk sort, stats, one manifest commit) with the
  * op column mapped to row kinds — the same staged double write as the
  * streaming sink ([[GraftStreamingWrite]]).
  *
  * Reference: the paimon Spark connector predates this Spark API and runs
  * MERGE as an analysis rule (MergeIntoPaimonTable.scala:41); the execution
  * is the same one LSM write of the changed rows.
  */
class GraftDeltaSparkTable(
    spark: SparkSession,
    table: GraftTable,
    ident: Identifier,
    snapshot: Option[Snapshot] = None,
    acl: String => Unit = _ => ())
    extends GraftSparkTable(spark, table, ident, snapshot, acl)
    with SupportsRowLevelOperations {

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new GraftDeltaOperation(GraftDeltaSparkTable.this, info.command())
    }
}

/** One DELETE/UPDATE/MERGE operation instance: scans delegate to the
  * table's regular (merged, pushdown-capable) scan; the row id is the
  * primary key — the natural delta identity of an LSM table, no
  * file/position metadata needed.
  */
class GraftDeltaOperation(
    sparkTable: GraftSparkTable,
    cmd: RowLevelOperation.Command) extends SupportsDelta {

  private def t: GraftTable = sparkTable.table

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    sparkTable.newScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = {
        val spark = SparkSession.active
        new GraftDeltaWrite(t.location, t.schema.structType,
          t.schema.primaryKeys, info.queryId(),
          new SerializableConfiguration(spark.sessionState.newHadoopConf()))
      }
    }

  override def rowId(): Array[NamedReference] =
    t.schema.primaryKeys.map(Expressions.column).toArray

  // an UPDATE arrives as one +U row (the merge engines upsert whole rows
  // by key); splitting into -D/+I would double the staged volume
  override def representUpdateAsDeleteAndInsert(): Boolean = false
}

/** The delta write: executors stage op-tagged parquet (insert/update rows
  * pass through; deletes materialize the key), the driver commits ONE
  * upsert of the staged frame.
  */
class GraftDeltaWrite(
    tablePath: String,
    tableSchema: StructType,
    primaryKeys: Seq[String],
    queryId: String,
    conf: SerializableConfiguration) extends DeltaWrite {

  override def toBatch: DeltaBatchWrite =
    new GraftDeltaBatchWrite(tablePath, tableSchema, primaryKeys, queryId, conf)
}

object GraftDeltaBatchWrite {
  /** Op marker column of the staged frame (never reaches the table). */
  val OpCol = "__graft_delta_op"

  /** The staged rows' schema: the table's columns, then the op tag. Non-pk
    * columns are nullable, since a delete stages its key only (a NOT NULL
    * table column would otherwise become a parquet REQUIRED field that the
    * record writer refuses to leave unset); nested fields keep the table's
    * nullability.
    */
  def stagedSchema(tableSchema: StructType, primaryKeys: Seq[String]): StructType =
    StructType(tableSchema.fields.map { f =>
      if (primaryKeys.contains(f.name)) f else f.copy(nullable = true)
    } :+ StructField(OpCol, StringType, nullable = false))
}

class GraftDeltaBatchWrite(
    tablePath: String,
    tableSchema: StructType,
    primaryKeys: Seq[String],
    queryId: String,
    conf: SerializableConfiguration) extends DeltaBatchWrite {
  import GraftDeltaBatchWrite.OpCol

  private val stagedSchema = GraftDeltaBatchWrite.stagedSchema(tableSchema, primaryKeys)
  private def stagingDir = s"$tablePath/tmp-delta-$queryId"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new GraftDeltaWriterFactory(stagingDir, tableSchema, primaryKeys, conf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val dir = new Path(stagingDir)
    val fs = dir.getFileSystem(conf.value)
    try {
      val files = messages.collect { case m: GraftStagedFile => m.path }
      // a file read reports every field nullable: the staged rows keep the
      // nested NOT NULL fields the upsert's casts require. An operation that
      // changed no row still commits (an empty snapshot), as every upsert does
      val staged =
        if (files.nonEmpty) SparkShims.withSchema(
          spark.read.schema(stagedSchema).parquet(files.toIndexedSeq: _*), stagedSchema)
        else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], stagedSchema)
      val kinds = when(col(OpCol) === "I", lit(GraftMeta.KindInsert))
        .when(col(OpCol) === "U", lit(GraftMeta.KindUpdateAfter))
        .when(col(OpCol) === "D", lit(GraftMeta.KindDelete))
        .otherwise(raise_error(concat(
          lit("delta op must be one of I/U/D, found: "),
          coalesce(col(OpCol), lit("null")))))
      GraftTable.load(spark, tablePath).upsert(staged, kinds = Some(kinds))
    } finally if (fs.exists(dir)) fs.delete(dir, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(stagingDir)
    val fs = dir.getFileSystem(conf.value)
    if (fs.exists(dir)) fs.delete(dir, true)
  }
}

class GraftDeltaWriterFactory(
    stagingDir: String,
    tableSchema: StructType,
    primaryKeys: Seq[String],
    conf: SerializableConfiguration) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] = {
    val file = new Path(
      s"$stagingDir/part-$partitionId-$taskId-${java.util.UUID.randomUUID()}.parquet")
    new GraftDeltaDataWriter(file, tableSchema, primaryKeys, conf)
  }
}

/** Executor-side delta writer: wraps the staged-parquet writer with the op
  * tag. Inserts/updates write the full row plus the tag (a JoinedRow — no
  * per-field copy); deletes build a key-only row (non-key columns null —
  * the merge engine drops by key, values are never read).
  */
class GraftDeltaDataWriter(
    file: Path,
    tableSchema: StructType,
    primaryKeys: Seq[String],
    conf: SerializableConfiguration) extends DeltaWriter[InternalRow] {

  private val stagedSchema = GraftDeltaBatchWrite.stagedSchema(tableSchema, primaryKeys)
  private val writer = new GraftStagedParquetWriter(file, stagedSchema, conf.value)
  private val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
  private val insertTag = tag("I")
  private val updateTag = tag("U")
  private val deleteTag = tag("D")
  // rowId field i → (position in the table schema, its type): Spark
  // projects the id row in rowId() declaration order = pk order
  private val pkSlots = primaryKeys.map { p =>
    val i = tableSchema.fieldIndex(p)
    (i, tableSchema.fields(i).dataType)
  }.toIndexedSeq

  private def tag(op: String): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(op)))

  override def insert(row: InternalRow): Unit =
    writer.write(joined(row, insertTag))

  // the upsert keys an update by its new row's key: an assignment that
  // changed the key would add the new key and leave the old one in place
  private val keyOrders = pkSlots.map { case (_, dt) => TypeUtils.getInterpretedOrdering(dt) }

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    var i = 0
    while (i < pkSlots.length) {
      val (slot, dt) = pkSlots(i)
      val (was, now) = (id.get(i, dt), row.get(slot, dt))
      if (now == null || keyOrders(i).compare(was, now) != 0)
        throw new IllegalArgumentException("cannot update primary key columns")
      i += 1
    }
    writer.write(joined(row, updateTag))
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    val full = new GenericInternalRow(tableSchema.length + 1)
    pkSlots.zipWithIndex.foreach { case ((slot, dt), i) =>
      full.update(slot, id.get(i, dt))
    }
    full.update(tableSchema.length, UTF8String.fromString("D"))
    writer.write(full)
  }

  override def commit(): WriterCommitMessage = writer.commit()
  override def abort(): Unit = writer.abort()
  override def close(): Unit = writer.close()
}
