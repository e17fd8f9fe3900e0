package graft

import graft.GraftMeta._
import graft.core._
import graft.spark.GraftFileIndex
import graft.table.GraftTable
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._

/** TEST ORACLE: the DSv1 raw reader, from before every read moved onto
  * `GraftScan`. A `HadoopFsRelation` over [[ReferenceFileIndex]] reads the
  * files with Spark's own file source; deletion vectors apply as an
  * anti-join on `_metadata.row_index`, older schema versions align by field
  * id with DataFrame projections, and defaults fill with `coalesce`. It
  * shares no reader code with `GraftScan` (only the file-pruning helpers
  * of `GraftFileIndex`), so specs hold the scan's raw mode
  * (`GraftTable.rawDF`) to it, and the merge and changelog oracles read
  * through it.
  */
object ReferenceRawRead {

  /** Raw file rows (no merge): data cols + partition cols (+ seq/kind/bucket
    * for PK tables). Pruning happens lazily in the FileIndex when Catalyst
    * pushes filters.
    */
  def rawDF(t: GraftTable, files: Seq[DataFileMeta], s: TableSchema): DataFrame = {
    // `file.format.per.level` can mix formats within ONE schema version —
    // each file self-describes via its extension, so group per format and
    // union the relations (one group in the common uniform case)
    val groups = files.groupBy(f =>
      GraftTable.formatNameOfPath(f.path).getOrElse(s.fileFormat))
    if (groups.size <= 1)
      t.spark.baseRelationToDataFrame(
        fsRelationFor(t, Right(files), s, groups.keys.headOption.getOrElse(s.fileFormat)))
    else groups.toSeq.sortBy(_._1).map { case (fmt, fs) =>
      t.spark.baseRelationToDataFrame(fsRelationFor(t, Right(fs), s, fmt))
    }.reduce(_.unionByName(_))
  }

  private def fsRelationFor(t: GraftTable, source: Either[Snapshot, Seq[DataFileMeta]],
      s: TableSchema, fmtName: String): HadoopFsRelation = {
    val index = new ReferenceFileIndex(t.spark, t.store, s, source, t.partitionSchema(s))
    HadoopFsRelation(
      location = index,
      partitionSchema = t.partitionSchema(s),
      dataSchema = t.physicalDataSchema(s),
      bucketSpec = None,
      fileFormat = GraftTable.fileFormatFor(fmtName),
      options = Map.empty)(t.spark)
  }

  /** Raw rows of a whole snapshot. When every manifest is on the current
    * schema (known from snapshot metadata alone), planning is LAZY: no
    * manifest is parsed until Catalyst pushes filters into the FileIndex.
    */
  def rawSnapshot(t: GraftTable, s: Snapshot, to: TableSchema): DataFrame = {
    val singleSchema =
      s.manifestMeta.nonEmpty && s.manifestMeta.forall(_.schemaIds.forall(_ == to.id))
    val noDvs = s.manifestMeta.nonEmpty && s.manifestMeta.forall(_.dvCount == 0)
    // per-level formats mix file formats within the current schema, which
    // the single-relation lazy path cannot express — fall back to the
    // listed union
    if (singleSchema && noDvs && to.fileFormatPerLevel.isEmpty)
      t.spark.baseRelationToDataFrame(fsRelationFor(t, Left(s), to, to.fileFormat))
    else rawUnion(t, t.store.liveFiles(s), to)
  }

  /** Filter out DV-deleted row positions — an anti-join on (file, row
    * index) against the deleted-position set.
    */
  private def applyDvs(t: GraftTable, df: DataFrame, files: Seq[DataFileMeta]): DataFrame = {
    val dvd = files.filter(_.dvPath.isDefined)
    if (dvd.isEmpty) return df
    val spark = t.spark
    import spark.implicits._
    val pos = broadcast(dvd.flatMap { f =>
      t.store.readDv(f.dvPath.get).toArray.toSeq.map(i => f.path -> i.toLong)
    }.toDF("__dv_file", "__dv_idx"))
    df.join(pos,
      relDataPath === col("__dv_file") &&
        col("_metadata.row_index") === col("__dv_idx"),
      "left_anti")
  }

  /** Fill configured per-field default values for NULLs at read (reference:
    * DefaultValueAssigner.java:48 — read-time, post-merge).
    */
  def applyDefaults(t: GraftTable, df: DataFrame): DataFrame = {
    val schema = t.schema
    val withDefaults = schema.fields.filter(f => schema.defaultValueOf(f.name).isDefined)
    if (withDefaults.isEmpty) df
    else df.select(schema.fields.map { f =>
      schema.defaultValueOf(f.name) match {
        case Some(d) => coalesce(col(f.name), lit(d).cast(f.sparkType)).as(f.name)
        case None => col(f.name)
      }
    }: _*)
  }

  /** Read files written under possibly different schema versions, remapped to
    * `to` by persistent field id — added columns null-filled, renames mapped,
    * type changes cast (reference: SchemaEvolutionUtil.createIndexCastMapping
    * :138 + createDataProjection:266).
    */
  def rawUnion(t: GraftTable, files: Seq[DataFileMeta], to: TableSchema): DataFrame = {
    val groups = files.groupBy(_.schemaId).toSeq.sortBy(_._1)
    groups match {
      case Nil => rawDF(t, Nil, to)
      // DVs must apply on the raw relation (the _metadata pseudo-column
      // does not survive projections)
      case Seq((sid, fs)) if sid == to.id => applyDvs(t, rawDF(t, fs, to), fs)
      case gs =>
        gs.map { case (sid, fs) =>
          val from = if (sid == to.id) to else t.store.readSchema(sid)
          alignRaw(applyDvs(t, rawDF(t, fs, from), fs), from, to)
        }.reduce(_.unionByName(_))
    }
  }

  /** Field-id remap of one column, recursing into struct children when
    * both schema versions carry nested field ids. Structs without nested
    * ids fall back to a whole-column cast.
    */
  private def alignExpr(src: Column, from: graft.core.Field,
      to: graft.core.Field): Column = {
    if (from.nested.isEmpty || to.nested.isEmpty) return src.cast(to.sparkType)
    val byId = from.nested.map(c => c.id -> c).toMap
    val children = to.nested.map { tc =>
      byId.get(tc.id) match {
        case Some(fc) => alignExpr(src.getField(fc.name), fc, tc).as(tc.name)
        case None => lit(null).cast(tc.sparkType).as(tc.name)
      }
    }
    // struct(...) of a null row would yield a non-null struct of nulls —
    // preserve top-level struct nullity explicitly
    when(src.isNull, lit(null).cast(to.sparkType))
      .otherwise(struct(children: _*))
  }

  /** Field-id projection of a raw frame from one schema version to another,
    * preserving metadata columns.
    */
  private def alignRaw(df: DataFrame, from: TableSchema, to: TableSchema): DataFrame = {
    if (from.id == to.id) return df
    val byId = from.fields.map(f => f.id -> f).toMap
    val dataCols = to.fields.map { f =>
      byId.get(f.id) match {
        case Some(old) => alignExpr(col(old.name), old, f).as(f.name)
        case None => lit(null).cast(f.sparkType).as(f.name)
      }
    }
    val metaCols =
      if (to.isPrimaryKeyed) Seq(col(SeqCol), col(PosCol), col(KindCol), col(BucketCol))
      else if (to.appendBucketed) Seq(col(BucketCol))
      else Nil
    df.select(dataCols ++ metaCols: _*)
  }

  /** Table-relative path of `_metadata.file_path` ("data/<dirs>/<file>").
    * Spark writes one identically-named part file per output directory in a
    * single job, so the FILENAME alone collides across buckets/partitions.
    */
  def relDataPath: Column =
    concat(lit("data/"), substring_index(col("_metadata.file_path"), "/data/", -1))
}

/** TEST ORACLE: the DSv1 `FileIndex` beneath [[ReferenceRawRead]]. Maps a
  * snapshot's (or a file list's) live files to Spark's file-source scan,
  * pruning by partition, bucket, dynamic-bucket and global index, stats and
  * bloom with the shared [[GraftFileIndex]] helpers.
  */
class ReferenceFileIndex(
    spark: SparkSession,
    store: FileStore,
    schema: TableSchema,
    source: Either[Snapshot, Seq[DataFileMeta]],
    val partitionSchema: StructType) extends FileIndex {

  /** Constructor over an explicit file list. */
  def this(spark: SparkSession, store: FileStore, schema: TableSchema,
      files: Seq[DataFileMeta], partitionSchema: StructType) =
    this(spark, store, schema, Right(files), partitionSchema)

  private val typeByName: Map[String, DataType] =
    schema.fields.map(f => f.name -> f.sparkType).toMap ++
      (if (schema.hasBucketDirs) Map(graft.GraftMeta.BucketCol -> IntegerType) else Map.empty)
  private val typeOf: String => Option[DataType] = typeByName.get

  private lazy val allFiles: Seq[DataFileMeta] = source match {
    case Right(fs) => fs
    case Left(snap) => store.liveFiles(snap)
  }

  override def rootPaths: Seq[Path] = Seq(store.dataDir)

  override def refresh(): Unit = ()

  override def inputFiles: Array[String] =
    allFiles.map(f => new Path(store.rootPath, f.path).toString).toArray

  override def sizeInBytes: Long = source match {
    case Left(snap) if snap.manifestMeta.nonEmpty =>
      math.max(snap.manifestMeta.map(_.dataSize).sum, 1L)
    case _ => math.max(allFiles.map(_.size).sum, 1L)
  }

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val partPreds = translate(partitionFilters)
    val dataPreds = translate(dataFilters)
    val bucketKeep = GraftFileIndex.bucketPruner(store, schema, dataPreds)
    val dynKeep: DataFileMeta => Boolean = source match {
      case Left(snap) =>
        GraftFileIndex.dynamicBuckets(spark, store, schema, snap.indexFiles, dataPreds)
          .map(bs => (f: DataFileMeta) => bs.contains(f.bucket))
          .getOrElse(_ => true)
      case _ => _ => true
    }
    val xpKeep: DataFileMeta => Boolean = source match {
      case Left(snap) =>
        GraftFileIndex.crossPartitionGroups(spark, store, schema,
            snap.indexFiles, dataPreds)
          .map(gs => (f: DataFileMeta) =>
            gs.contains((GraftTable.encodePartition(f.partition), f.bucket)))
          .getOrElse(_ => true)
      case _ => _ => true
    }
    val candidates = source match {
      case Left(snap) if partPreds.nonEmpty || dataPreds.nonEmpty =>
        val shardStats = dataPreds.map(p => Pruning.compileMight(p, typeOf))
        store.liveFiles(snap, meta => {
          val partOk = (meta.ptMin, meta.ptMax) match {
            case (Some(lo), Some(hi)) =>
              partPreds.forall(p => Pruning.shardMightMatch(p, schema.partitionKeys, lo, hi))
            case _ => true
          }
          partOk && (meta.colStats.isEmpty ||
            shardStats.forall(_(meta.colStats, meta.rowCount)))
        })
      case _ => allFiles
    }
    val partKeep = Pruning.partitionKeep(partPreds, partitionValueNames, typeOf)
    val statsKeep: DataFileMeta => Boolean =
      if (dataPreds.isEmpty) _ => true
      else {
        val compiled = dataPreds.map(p => Pruning.compileMight(p, typeOf))
        f => compiled.forall(_(f.stats, f.rowCount))
      }
    val selected = candidates.filter { f =>
      partKeep(partitionOf(f)) &&
      bucketKeep(f) && dynKeep(f) && xpKeep(f) && statsKeep(f) &&
      GraftFileIndex.bloomMightMatch(store, schema, f, dataPreds,
        new GraftFileIndex.StoredNames(store, schema))
    }
    selected.groupBy(f => (f.partition, f.bucket)).toSeq.map { case ((pv, bucket), fs) =>
      PartitionDirectory(partitionInternalRow(pv, bucket), fs.map(toFileStatus).toArray)
    }
  }

  /** Names of the partition-path columns in order (incl. synthetic bucket). */
  private def partitionValueNames: Seq[String] =
    if (schema.hasBucketDirs) schema.partitionKeys :+ GraftMeta.BucketCol
    else schema.partitionKeys

  private def partitionOf(f: DataFileMeta): Seq[String] =
    if (schema.hasBucketDirs) f.partition :+ f.bucket.toString else f.partition

  private def translate(exprs: Seq[Expression]): Seq[Filter] =
    exprs.flatMap(e => org.apache.spark.sql.graft.SparkShims.translateFilter(e))

  private def toFileStatus(f: DataFileMeta): FileStatus =
    new FileStatus(f.size, false, 1, 128L * 1024 * 1024, 0L,
      new Path(store.rootPath, f.path))

  private def partitionInternalRow(values: Seq[String], bucket: Int): InternalRow = {
    val all: Seq[Any] = partitionSchema.fields.toSeq.zipWithIndex.map { case (sf, i) =>
      if (sf.name == GraftMeta.BucketCol) bucket
      else GraftFileIndex.partitionValueToInternal(sf.dataType, values(i))
    }
    new GenericInternalRow(all.toArray)
  }
}
