package graft.spark.v2

import graft.core.Snapshot
import graft.table.GraftTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsDynamicOverwrite, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util.{Set => JSet}
import scala.collection.JavaConverters._

/** DSv2 table over a [[GraftTable]] (reference: SparkTable.scala:38): SQL
  * reads with pushdown + bucket-local MOR, SQL writes via the V1
  * InsertableRelation fallback (the reference does the same —
  * SparkWrite.scala:30 — so INSERT reuses the whole distributed write
  * path), truncate/overwrite, filter DELETE, and time travel via
  * `VERSION AS OF` (snapshot id) / tag name.
  */
class GraftSparkTable(
    spark: SparkSession,
    val table: GraftTable,
    ident: Identifier,
    snapshot: Option[Snapshot] = None,
    /** Operation-level ACL hook (reference: PrivilegedFileStoreTable checks
      * SELECT on newScan, INSERT on newWrite); throws AccessDenied.
      */
    acl: String => Unit = _ => (),
    /** Raw mode over these files: stored rows with the merge machinery
      * columns, no merge (see [[GraftScan.raw]]).
      */
    rawFiles: Option[Seq[graft.core.DataFileMeta]] = None,
    /** Batch reads only: the table `format("graft")` resolves to, whose
      * writes and streams stay on the V1 source and sink.
      */
    readOnly: Boolean = false) extends Table
    with SupportsRead with SupportsWrite with SupportsDelete with TruncatableTable
    with SupportsMetadataColumns with SupportsPartitionManagement {

  override def name(): String = ident.toString

  /** The table's columns, with the primary key NOT NULL: Spark's row-level
    * rewrites refuse a nullable row id, and an LSM key is never null
    * (`upsert` refuses one). A raw read keeps the stored nullability.
    */
  override def schema(): StructType =
    if (rawFiles.isDefined) table.rawSchema
    else {
      val pks = table.schema.primaryKeys.toSet
      StructType(table.schema.structType.fields.map(f =>
        if (pks(f.name)) f.copy(nullable = false) else f))
    }

  /** Exposed metadata columns (reference: PaimonMetadataColumn.scala:42-49):
    * `__file_path` (raw scans) and `__bucket` (all scans of PK tables).
    */
  override def metadataColumns(): Array[MetadataColumn] = {
    val filePath = new MetadataColumn {
      override def name(): String = GraftSparkTable.FilePathCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
    }
    val bucket = new MetadataColumn {
      override def name(): String = graft.GraftMeta.BucketCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.IntegerType
      override def isNullable: Boolean = false
    }
    val rowIndex = new MetadataColumn {
      override def name(): String = GraftSparkTable.RowIndexCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
    }
    // a raw scan carries __bucket as a data column
    if (table.schema.hasBucketDirs && rawFiles.isEmpty) Array(filePath, rowIndex, bucket)
    else Array(filePath, rowIndex)
  }

  // OVERWRITE_DYNAMIC admits the plan; Spark has no V1 fallback for its
  // exec, so GraftRowLevelSqlRule swaps OverwritePartitionsDynamic for an
  // eager command over GraftTable.overwrite(dynamic = true) (the
  // reference's PaimonDynamicPartitionOverwriteCommand workaround). Static
  // INSERT OVERWRITE [PARTITION (...)] rides OVERWRITE_BY_FILTER.
  override def capabilities(): JSet[TableCapability] =
    if (readOnly) Set(TableCapability.BATCH_READ).asJava
    else Set(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.TRUNCATE,
      // MERGE INTO ... WITH SCHEMA EVOLUTION: Spark's analyzer
      // (ResolveMergeIntoSchemaEvolution) diffs source vs target schemas,
      // applies the AddColumn/UpdateColumnType changes through
      // GraftCatalog.alterTable (one atomic schema commit), and reloads the
      // relation — the merge then runs against the evolved table
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava

  override def partitioning(): Array[Transform] =
    table.schema.partitionKeys.map(Expressions.identity).toArray

  // ---------------- partition management (SHOW / DROP PARTITION) ----------
  // Reference: PaimonPartitionManagement.scala:38 — list from the scan's
  // partition values, drop via a metadata-only commit; create/replace/load
  // are unsupported (partitions materialize with data, like the reference).

  override def partitionSchema(): StructType =
    StructType(table.schema.partitionKeys.map(k =>
      table.schema.fieldByName(k).toStructField))

  /** Distinct live partitions as (path strings, internal row). */
  private def livePartitions(): Seq[(Seq[String], org.apache.spark.sql.catalyst.InternalRow)] = {
    val ps = partitionSchema()
    table.store.latestSnapshot.toSeq
      .flatMap(s => table.store.liveFiles(s).map(_.partition)).distinct
      .map { vs =>
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          vs.zip(ps.fields).map { case (v, f) =>
            graft.spark.GraftFileIndex.partitionValueToInternal(f.dataType, v)
          }.toArray[Any])
        (vs, row)
      }
  }

  private def rowsEqual(a: org.apache.spark.sql.catalyst.InternalRow,
      cols: Seq[Int], b: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    val ps = partitionSchema()
    cols.zipWithIndex.forall { case (ai, bi) =>
      val dt = ps.fields(ai).dataType
      java.util.Objects.equals(a.get(ai, dt), b.get(bi, dt))
    }
  }

  override def listPartitionIdentifiers(
      names: Array[String],
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val ps = partitionSchema()
    require(names.length == ident.numFields,
      s"${names.length} partition names but ${ident.numFields} values")
    val idx = names.map(ps.fieldIndex).toSeq
    livePartitions().collect {
      case (_, row) if rowsEqual(row, idx, ident) => row
    }.toArray
  }

  override def dropPartition(ident: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    acl(graft.core.Privilege.Insert)
    val ps = partitionSchema()
    val all = (0 until ps.length).toSeq
    val matched = livePartitions().collect {
      case (vs, row) if rowsEqual(row, all, ident) => vs
    }.toSet
    if (matched.isEmpty) return false
    val live = table.store.latestSnapshot.map(table.store.liveFiles).getOrElse(Nil)
    table.commitFiles(
      live.filter(f => matched.contains(f.partition))
        .map(graft.core.ManifestEntry(graft.core.ManifestEntry.DELETE, _)),
      graft.core.CommitKind.OVERWRITE)
    true
  }

  /** TRUNCATE TABLE t PARTITION (...): same metadata-only file drop as
    * [[dropPartition]] — the partition concept itself only exists through
    * its data here.
    */
  override def truncatePartition(ident: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    if (!dropPartition(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchPartitionException(
        name(), ident, partitionSchema())
    true
  }

  override def createPartition(ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "partitions materialize with data; CREATE PARTITION is not supported")

  override def replacePartitionMetadata(ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("replace partition is not supported")

  override def loadPartitionMetadata(ident: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Map[String, String] =
    throw new UnsupportedOperationException("load partition is not supported")

  override def properties(): java.util.Map[String, String] = {
    val base = table.schema.options ++
      Map("path" -> table.location) ++
      (if (table.isPrimaryKeyed)
        Map("primary-key" -> table.schema.primaryKeys.mkString(",")) else Map.empty)
    base.asJava
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    acl(graft.core.Privilege.Select)
    val snap = snapshot.orElse {
      Option(options.get("scan.snapshot-id")).map(id => table.store.readSnapshot(id.toLong))
        .orElse(Option(options.get("scan.tag-name")).map(table.store.readTag))
        // batch time travel by commit time: the latest snapshot at or
        // before the instant — millis (scan.timestamp-millis) or a
        // datetime string (scan.timestamp, reference: CoreOptions
        // SCAN_TIMESTAMP "yyyy-MM-dd HH:mm:ss")
        .orElse(Option(options.get("scan.timestamp-millis")).map(_.toLong)
          .orElse(Option(options.get("scan.timestamp"))
            .map(GraftSparkTable.parseScanTimestamp))
          .map { ts =>
            table.store.snapshotAtOrBefore(ts)
              // falling through to "latest" here would silently read data
              // newer than the requested instant (reference: TimeTravelUtil
              // throws when nothing is at-or-before the timestamp)
              .getOrElse(throw new IllegalArgumentException(
                s"no snapshot earlier than or equal to timestamp $ts"))
          })
        .orElse(Option(options.get("scan.mode")).collect {
          // content as of the latest full compaction (reference:
          // CoreOptions.StartupMode COMPACTED_FULL); falls back to latest
          // when the table was never compacted
          case "compacted-full" => table.latestCompactSnapshot
        }.flatten)
    }
    // (incremental-between / incremental-between-timestamp are served by
    // the graft_incremental TVF and the Scala API — a DSv2 read option
    // would wrap a derived frame in a scan, the wrong shape)
    // read options flow through to the streaming source (scan.mode /
    // scan.timestamp-millis / consumer-id / read.max-rows-per-batch) — a
    // reader-side override of the table's own options, same precedence as
    // the V1 GraftSource path
    // read-optimized: the fully-compacted files only, read raw (reference:
    // table/system/ReadOptimizedTable.java:53)
    val files = rawFiles.orElse(
      Option(options.get("read-optimized")).filter(_.toBoolean).map(_ =>
        snap.orElse(table.store.latestSnapshot).toSeq.flatMap(table.store.liveFiles)
          .filter(_.level >= GraftTable.MaxLevel)))
    new GraftScanBuilder(spark, table, snap,
      readOptions = options.asScala.toMap, rawFiles = files)
  }

  // ---------------- writes (V1 fallback, reference SparkWrite.scala:30) ----

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    acl(graft.core.Privilege.Insert)
    new WriteBuilder with SupportsTruncate with SupportsOverwrite
        with SupportsDynamicOverwrite {
      private var mode: String = "append"
      private var overwriteFilters: Array[Filter] = Array.empty

      override def truncate(): WriteBuilder = { mode = "truncate"; this }
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        mode = "overwrite"; overwriteFilters = filters; this
      }
      override def overwriteDynamicPartitions(): WriteBuilder = {
        mode = "dynamic"; this
      }

      override def build(): Write = new V1Write {
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          val spark = org.apache.spark.sql.SparkSession.active
          new GraftStreamingWrite(table.location, info.schema(), info.queryId(),
            new org.apache.spark.util.SerializableConfiguration(
              spark.sparkContext.hadoopConfiguration))
        }
        override def toInsertableRelation: InsertableRelation = (data, _) => {
          // whole-table INSERT OVERWRITE arrives as truncate() (Spark turns
          // an AlwaysTrue delete filter into SupportsTruncate); the
          // dynamic-partition-overwrite table option applies there
          def dynByOption = table.schema.partitionKeys.nonEmpty &&
            table.schema.option("dynamic-partition-overwrite", "false").toBoolean
          mode match {
            case "append" => table.write(data)
            case "truncate" if dynByOption => table.overwrite(data, dynamic = true)
            case "truncate" => table.overwrite(data)
            case "dynamic" => table.overwrite(data, dynamic = true)
            case "overwrite" =>
              import org.apache.spark.sql.sources.{AlwaysTrue, EqualNullSafe, EqualTo}
              def staticEq(f: Filter): Option[(String, String)] = f match {
                case EqualTo(c, v) if v != null &&
                  table.schema.partitionKeys.contains(c) => Some(c -> v.toString)
                case EqualNullSafe(c, v) if v != null &&
                  table.schema.partitionKeys.contains(c) => Some(c -> v.toString)
                case _ => None
              }
              val static = overwriteFilters.flatMap(staticEq).toMap
              val allStatic = overwriteFilters.forall(f =>
                staticEq(f).isDefined || f.isInstanceOf[AlwaysTrue])
              if (allStatic && static.nonEmpty)
                table.overwrite(data, staticPartition = static)
              // table-level opt-in (reference: CoreOptions
              // "dynamic-partition-overwrite", the reference's DEFAULT
              // behavior). Off by default here — the Spark-idiomatic
              // control is spark.sql.sources.partitionOverwriteMode, and
              // the established oracle rows encode Spark's static
              // semantics.
              else if (dynByOption) table.overwrite(data, dynamic = true)
              else table.overwrite(data)
          }
        }
      }
    }
  }

  // ---------------- DELETE WHERE (reference: SupportsDelete path of
  // DeleteFromPaimonTableCommand) ----------------

  override def canDeleteWhere(filters: Array[Filter]): Boolean = true

  override def deleteWhere(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.functions.{expr, lit}
    val cond = filters.map(filterToColumn).reduceOption(_ && _).getOrElse(lit(true))
    table.delete(cond)
  }

  override def truncateTable(): Boolean = { table.truncate(); true }

  private def filterToColumn(f: Filter): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(c, v) => col(c) === lit(v)
      case EqualNullSafe(c, v) => col(c) <=> lit(v)
      case GreaterThan(c, v) => col(c) > lit(v)
      case GreaterThanOrEqual(c, v) => col(c) >= lit(v)
      case LessThan(c, v) => col(c) < lit(v)
      case LessThanOrEqual(c, v) => col(c) <= lit(v)
      case In(c, vs) => col(c).isin(vs.toIndexedSeq: _*)
      case IsNull(c) => col(c).isNull
      case IsNotNull(c) => col(c).isNotNull
      case And(l, r) => filterToColumn(l) && filterToColumn(r)
      case Or(l, r) => filterToColumn(l) || filterToColumn(r)
      case Not(c) => !filterToColumn(c)
      case StringStartsWith(c, p) => col(c).startsWith(p)
      case StringEndsWith(c, p) => col(c).endsWith(p)
      case StringContains(c, p) => col(c).contains(p)
      case AlwaysTrue() => lit(true)
      case AlwaysFalse() => lit(false)
      case other => throw new UnsupportedOperationException(s"DELETE filter: $other")
    }
  }
}

object GraftSparkTable {
  val FilePathCol = "__file_path"
  val RowIndexCol = "__row_index"

  /** The relation of `table`: a primary-key table binds UPDATE and MERGE
    * through Spark's delta rewrite ([[GraftDeltaSparkTable]]); an append
    * table keeps the analysis-rule path.
    */
  def apply(spark: SparkSession, table: GraftTable, ident: Identifier,
      snapshot: Option[Snapshot] = None,
      acl: String => Unit = _ => ()): GraftSparkTable =
    if (table.isPrimaryKeyed) new GraftDeltaSparkTable(spark, table, ident, snapshot, acl)
    else new GraftSparkTable(spark, table, ident, snapshot, acl)

  /** Parse the `scan.timestamp` datetime string (reference: CoreOptions
    * SCAN_TIMESTAMP, "yyyy-MM-dd HH:mm:ss" in UTC; a date-only string
    * means midnight).
    */
  private[v2] def parseScanTimestamp(s: String): Long = {
    val t = s.trim
    val f = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd[ HH:mm:ss]")
    try java.time.LocalDateTime.parse(t, f)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        java.time.LocalDate.parse(t).atStartOfDay()
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
  }
}
