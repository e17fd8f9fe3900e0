package graft.table

import graft.GraftMeta._
import graft.core._
import graft.spark.v2.GraftScan
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import java.util.UUID

/** A Graft table: directory + versioned schema + snapshot chain, in two
  * physical kinds chosen by the presence of primary keys (reference:
  * paimon-core PrimaryKeyFileStoreTable.java:52 / AppendOnlyFileStoreTable
  * .java:50):
  *
  *  - append table — plain parquet row files, bucket-unaware;
  *  - primary-key table — bucketed LSM: each commit writes pk-sorted level-0
  *    runs per (partition, bucket); reads merge runs with the configured
  *    merge engine (merge-on-read).
  *
  * Spark-first execution: writes stage through Spark's native parquet writer
  * (vectorized, codegen'd, distributed — the "memtable" is Spark's
  * sort-within-partition), then a metadata-only commit registers the files.
  * Every read of data files goes through [[GraftScan]]: table reads as the
  * DSv2 relation the catalog uses, internal reads of a file list in its raw
  * mode ([[rawDF]]).
  */
class GraftTable(val spark: SparkSession, val store: FileStore)
    extends RowLevelOps with MaintenanceOps with SystemTables with SchemaEvolution
    with org.apache.spark.internal.Logging {

  def schema: TableSchema = store.latestSchema
  def isPrimaryKeyed: Boolean = schema.isPrimaryKeyed
  def location: String = store.root

  /** The Hadoop confs this table's reads broadcast, one per read shape,
    * shared with its other handles (see [[graft.spark.v2.ReadShapes]]): a
    * repeated read or lookup of a shape broadcasts nothing.
    */
  private[graft] lazy val readShapes = graft.spark.v2.ReadShapes.of(spark.sparkContext, location)

  /** `lookup`'s row deserializer, for the schema id it was built for. */
  @volatile private var lookupRows: Option[(Long, org.apache.spark.sql.catalyst.encoders
    .ExpressionEncoder.Deserializer[Row])] = None

  /** Drops the reader machinery this handle caches across reads: the
    * broadcast confs (for every handle of the table) and the lookup
    * deserializer. A scan planned earlier keeps the confs it holds.
    */
  def refresh(): Unit = {
    readShapes.clear()
    lookupRows = None
  }

  // ================= schemas =================

  /** Columns physically stored in data files. */
  def physicalDataSchema(s: TableSchema = schema): StructType = {
    val data = StructType(s.dataFields.map(_.toStructField))
    if (s.isPrimaryKeyed) StructType(data.fields :+ seqField :+ posField :+ kindField) else data
  }

  /** Directory-encoded columns (partition keys, plus bucket for PK tables
    * and bucketed append tables). */
  def partitionSchema(s: TableSchema = schema): StructType = {
    val pt = StructType(s.partitionKeys.map(k => s.fieldByName(k).toStructField))
    if (s.hasBucketDirs) StructType(pt.fields :+ bucketField) else pt
  }

  private def dirCols(s: TableSchema = schema): Seq[String] =
    if (s.hasBucketDirs) s.partitionKeys :+ BucketCol else s.partitionKeys

  // ================= reads =================

  /** Columns of a raw read ([[rawDF]]): the table fields, then the merge
    * machinery columns and `__bucket` on PK tables, or `__bucket` on
    * bucketed append tables.
    */
  def rawSchema: StructType = {
    val extra =
      if (schema.isPrimaryKeyed) Seq(seqField, posField, kindField, bucketField)
      else if (schema.appendBucketed) Seq(bucketField)
      else Nil
    StructType(schema.structType.fields ++ extra)
  }

  /** Every stored row of `files`, unmerged: the raw mode of [[GraftScan]].
    * `-D` rows stay, deletion vectors mask, rows align to the current
    * schema by field id, and no read-time default is filled in. The columns
    * are [[rawSchema]]; `__file_path` and `__row_index` resolve as metadata
    * columns. Pushed filters prune the files as a table scan's do.
    */
  def rawDF(files: Seq[DataFileMeta]): DataFrame =
    relationDF(new graft.spark.v2.GraftSparkTable(spark, this, ident, rawFiles = Some(files)))

  /** `__file_path` of each of `files`, as a raw read reports it. */
  private[table] def byFilePath(files: Seq[DataFileMeta]): Map[String, DataFileMeta] =
    files.map(f => GraftScan.filePath(location, f.path) -> f).toMap

  private def emptyDF: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema.structType)

  /** Current table contents (merge-on-read for PK tables). */
  def toDF: DataFrame = toDF(store.latestSnapshot)

  /** Time travel to a snapshot id. */
  def toDF(snapshotId: Long): DataFrame = toDF(Some(store.readSnapshot(snapshotId)))

  /** Time travel to a tag. */
  def toDFAtTag(tag: String): DataFrame = toDF(Some(store.readTag(tag)))

  /** The most recent compaction snapshot — the `compacted-full` scan-mode
    * anchor (reference: CoreOptions.StartupMode COMPACTED_FULL,
    * StaticFromSnapshotStartingScanner family).
    */
  def latestCompactSnapshot: Option[Snapshot] =
    store.snapshotIds.reverse.iterator.map(store.readSnapshot)
      .find(_.commitKind == CommitKind.COMPACT)
      .orElse(store.latestSnapshot)

  /** The table at `snapshot`, read through the DSv2 relation the catalog
    * uses (usable without a registered catalog entry): pruning by filter
    * pushdown, DV bitmaps and schema alignment per file, defaults, CBO
    * statistics, and for PK tables the executor-side k-way merge per
    * bucket section — zero table shuffle, with the read-optimized columnar
    * handoff for fully-compacted state. `__file_path`/`__row_index` are
    * metadata columns of raw (append and DV) reads.
    */
  def toDF(snapshot: Option[Snapshot]): DataFrame = snapshot match {
    case None => emptyDF
    case Some(s) => relationDF(graft.spark.v2.GraftSparkTable(spark, this, ident, Some(s)))
  }

  /** The table's DSv2 relation with no pinned snapshot (its scan reads the
    * latest one): the target of the Scala API's row-level plans.
    */
  private[table] def relation: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
      .create(graft.spark.v2.GraftSparkTable(spark, this, ident), None, None)

  private def ident =
    org.apache.spark.sql.connector.catalog.Identifier.of(
      Array.empty[String], new Path(store.root).getName)

  private def relationDF(tbl: graft.spark.v2.GraftSparkTable): DataFrame =
    org.apache.spark.sql.graft.SparkShims.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        .create(tbl, None, None))

  /** hash(bucket-key) % n routing column for bucketed append tables
    * (reference: append-table HASH_FIXED RowKeyExtractor). Same Murmur3
    * hash as the PK path, so read-side bucket pruning can mirror it.
    */
  private[table] def appendBucketExpr: Column =
    pmod(hash(schema.bucketKeys.map(col): _*), lit(schema.numBuckets))

  /** Read-optimized view: only fully-compacted (max level) files, no merge
    * (reference: table/system/ReadOptimizedTable.java:53).
    */
  def readOptimized: DataFrame = store.latestSnapshot match {
    case None => emptyDF
    case Some(s) =>
      val files = store.liveFiles(s).filter(_.level >= GraftTable.MaxLevel)
      rawDF(files).select(schema.fields.map(f => col(f.name)): _*)
  }

  /** Point lookup: pk → row of the latest snapshot, read on the driver
    * (reference: table/query/LocalTableQuery.java:55,159 reads the key's
    * bucket levels in-process): [[GraftScan.pointRead]]
    * plans the key's bucket with the scan's own pruning and drains its
    * reader, merge included — no Spark job. `pkValues` names every pk
    * column and nothing else. A value compares as `col === lit(value)`
    * does (see [[GraftTable.keyValue]]). The row has the external types
    * `collect()` returns.
    */
  def lookup(pkValues: Map[String, Any]): Option[Row] = {
    val ts = schema
    require(ts.isPrimaryKeyed, "lookup requires a primary-key table")
    val pks = ts.primaryKeys
    pkValues.keys.foreach(c => require(pks.contains(c),
      s"lookup: $c is not a primary-key column; the primary key is ${pks.mkString(", ")}"))
    pks.foreach(c => require(pkValues.contains(c), s"lookup: missing primary-key column $c"))
    store.latestSnapshot.flatMap { snap =>
      GraftScan.withSession(spark) {
        val key = pks.map(k =>
          GraftTable.keyValue(spark, k, ts.fieldByName(k).sparkType, pkValues(k)))
        if (key.exists(_.isEmpty)) None
        else GraftScan.pointRead(this, snap, ts, Seq(key.flatten)).headOption.map { r =>
          val deser = lookupRows.filter(_._1 == ts.id).map(_._2).getOrElse {
            val d = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(ts.structType)
              .resolveAndBind().createDeserializer()
            lookupRows = Some(ts.id -> d)
            d
          }
          // one deserializer reuses its buffers: calls take turns
          deser.synchronized(deser(r))
        }
      }
    }
  }

  // ================= incremental / changelog reads =================

  /** Rows added in snapshot range (fromExclusive, toInclusive], with
    * `_row_kind` and `_sequence_number` exposed — the changelog of
    * `changelog-producer = input` (reference: DeltaFollowUpScanner.java:29,
    * INCREMENTAL_BETWEEN CoreOptions.java:916).
    */
  def incremental(fromExclusive: Long, toInclusive: Long): DataFrame = {
    require(!schema.deletionVectors || schema.changelogProducer == ChangelogProducer.Lookup,
      "incremental reads on a deletion-vector table need " +
        "changelog-producer=lookup: a dv rewrite re-adds level-0 files, " +
        "which a raw delta scan would re-emit")
    // preserved changelogs (decoupled retention) serve ids whose snapshot
    // has already expired — a lagging stream keeps replaying seamlessly
    val ids = (store.snapshotIds ++ store.changelogIds).distinct.sorted
      .filter(id => id > fromExclusive && id <= toInclusive)
    val files = ids.flatMap(id => changelogOf(store.snapshotOrChangelog(id))._2)
    withChangelogCols(rawDF(files))
  }

  /** The changelog of snapshot `s`: the manifests and the files a
    * streaming or incremental read of it consumes, and that changelog
    * expiry keeps or deletes with it.
    *  - `lookup`/`full-compaction`: the exact -U/+U/-D changelog files,
    *    written at commit time (LookupMergeTreeCompactRewriter.java:51) or
    *    at compaction time (FullChangelogMergeTreeCompactRewriter.java:43).
    *  - otherwise the level-0 input files the commit added. COMPACT
    *    snapshots reorganize existing rows (compaction, DV rewrites): their
    *    ADDs are not new input and must not re-emit downstream (reference:
    *    DeltaFollowUpScanner skips compaction snapshots). OVERWRITE
    *    snapshots (overwrite/rollback) are likewise skipped unless
    *    `streaming-read-overwrite` is set (reference default false).
    */
  private[graft] def changelogOf(s: Snapshot): (Seq[String], Seq[DataFileMeta]) = {
    def adds(manifests: Seq[String], keep: DataFileMeta => Boolean) =
      (manifests, manifests.flatMap(store.readManifest).collect {
        case ManifestEntry(ManifestEntry.ADD, f) if keep(f) => f
      })
    if (schema.changelogProducer.writesFiles) adds(s.changelogManifests, _ => true)
    else if (s.commitKind == CommitKind.COMPACT ||
      (s.commitKind == CommitKind.OVERWRITE &&
        !schema.option("streaming-read-overwrite", "false").toBoolean)) (Nil, Nil)
    else adds(s.deltaManifests, _.level == 0)
  }

  /** Incremental read between two tags (reference: CoreOptions
    * INCREMENTAL_BETWEEN accepts tag names as well as snapshot ids —
    * CoreOptions.java:916; resolution in IncrementalStartingScanner).
    */
  def incrementalBetweenTags(fromTag: String, toTag: String): DataFrame =
    incremental(store.readTag(fromTag).id, store.readTag(toTag).id)

  /** Incremental read between two commit TIMESTAMPS (epoch millis): the
    * range covers every snapshot committed in (fromMillis, toMillis]
    * (reference: CoreOptions INCREMENTAL_BETWEEN_TIMESTAMP:931 resolved by
    * IncrementalTimeStampStartingScanner — the latest snapshot at-or-before
    * each bound becomes the id range).
    */
  def incrementalBetweenTimestamps(fromMillis: Long, toMillis: Long): DataFrame = {
    require(fromMillis <= toMillis,
      s"incremental timestamp range inverted: $fromMillis > $toMillis")
    def atOrBefore(ts: Long): Long = store.snapshotAtOrBefore(ts).map(_.id).getOrElse(0L)
    incremental(atOrBefore(fromMillis), atOrBefore(toMillis))
  }

  /** Exclusive starting snapshot id for a streaming read under the
    * configured scan mode (reference: the starting scanners in
    * paimon-core table/source/snapshot/ — StaticFromTimestampStartingScanner,
    * StaticFromWatermarkStartingScanner; modes CoreOptions.StartupMode
    * :1966-2025). Read options override table options.
    *
    *  - latest-full (default): 0 — the stream's FIRST batch is a full
    *    merged scan (see [[streamingFullFirst]]), deltas after
    *  - latest: only snapshots committed after the stream starts
    *  - from-snapshot: deltas after `scan.snapshot-id` - 1
    *  - from-snapshot-full: full scan first, then deltas after the id
    *  - from-timestamp: deltas of snapshots committed after
    *    `scan.timestamp-millis`
    *  - from-watermark: deltas from the first snapshot whose watermark
    *    reached `scan.watermark`
    */
  def streamingStartExclusive(options: Map[String, String] = Map.empty): Long = {
    def opt(k: String): Option[String] = options.get(k).orElse(schema.options.get(k))
    opt("scan.mode").getOrElse("latest-full") match {
      case "latest" => store.latestSnapshotId.getOrElse(0L)
      case "from-snapshot" | "from-snapshot-full" =>
        opt("scan.snapshot-id").map(_.toLong - 1).getOrElse(0L)
      case "from-tag" =>
        opt("scan.tag-name").map(store.readTag(_).id - 1).getOrElse(0L)
      case "from-timestamp" =>
        val ts = opt("scan.timestamp-millis").map(_.toLong).getOrElse(0L)
        store.snapshotAtOrBefore(ts).map(_.id).getOrElse(0L)
      case "from-watermark" =>
        val w = opt("scan.watermark").map(_.toLong).getOrElse(Long.MinValue)
        store.snapshotIds.find(id => store.readSnapshot(id).watermark.exists(_ >= w))
          .map(_ - 1).getOrElse(store.latestSnapshotId.getOrElse(0L))
      case "compacted-full" =>
        // full scan of the latest compaction's state first, deltas after it
        // (reference: CoreOptions.StartupMode COMPACTED_FULL +
        // StaticFromSnapshotStartingScanner over the compact snapshot)
        latestCompactSnapshot.map(_.id - 1).getOrElse(0L)
      case _ => 0L // latest-full
    }
  }

  /** Whether the stream's FIRST batch must be a FULL merged scan of the
    * table instead of a delta replay (modes `latest-full` — the default —
    * and `from-snapshot-full`; reference: StartupMode.LATEST_FULL /
    * FROM_SNAPSHOT_FULL → FullStartingScanner). A delta replay from
    * snapshot 0 only reconstructs state while every early snapshot still
    * exists; once expiration has dropped them (their L0 files are GONE),
    * the replay silently loses data — the full first batch is immune.
    */
  def streamingFullFirst(options: Map[String, String] = Map.empty): Boolean =
    options.get("scan.mode").orElse(schema.options.get("scan.mode"))
      .getOrElse("latest-full") match {
      case "latest-full" | "from-snapshot-full" | "compacted-full" => true
      case _ => false
    }

  /** Full audit log: every row version currently live, with rowkind column
    * (reference: table/system/AuditLogTable.java:77-111).
    */
  def auditLog: DataFrame = store.latestSnapshot match {
    case None => withChangelogCols(rawDF(Nil))
    case Some(s) => withChangelogCols(rawDF(store.liveFiles(s)))
  }

  private def withChangelogCols(raw: DataFrame): DataFrame = {
    val kindName = kindNames.toSeq.sortBy(_._1)
      .foldLeft(lit("+I")) { case (acc, (code, name)) =>
        when(col(KindCol) === lit(code), lit(name)).otherwise(acc)
      }
    val base = if (isPrimaryKeyed)
      raw.withColumn("_row_kind", kindName)
        .withColumn("_sequence_number", col(SeqCol))
        .drop(SeqCol, PosCol, KindCol, BucketCol)
    else raw.withColumn("_row_kind", lit("+I"))
      .withColumn("_sequence_number", lit(0L))
    base.select((Seq(col("_row_kind"), col("_sequence_number")) ++
      schema.fields.map(f => col(f.name))): _*)
  }

  // ================= writes =================

  private def nextSeq: Long = store.latestSnapshotId.getOrElse(0L) + 1

  /** Reorder/cast an input frame to the table schema. */
  private def align(df: DataFrame): DataFrame =
    df.select(schema.fields.map { f =>
      f.charVarcharSpec match {
        case Some((isChar, n)) => GraftTable.charVarcharWriteSide(
          col(f.name).cast(StringType), f.name, isChar, n).as(f.name)
        case None => col(f.name).cast(f.sparkType).as(f.name)
      }
    }: _*)

  /** Append or upsert depending on table kind. */
  def write(df: DataFrame): Snapshot =
    if (isPrimaryKeyed) upsert(df) else append(df)

  // ================= branches =================

  /** A writable view of the named branch — independent snapshot chain over
    * shared data (reference: branch/TableBranch.java).
    */
  def branch(name: String): GraftTable = new GraftTable(spark, store.ofBranch(name))

  def createBranch(name: String, snapshotId: Long): Unit =
    store.createBranch(name, snapshotId)

  /** Fast-forward main to the branch head: one commit whose entries are the
    * file-set diff (reference: fast_forward procedure).
    */
  def fastForward(branchName: String): Snapshot = {
    require(store.branch.isEmpty, "fast-forward applies to the main table")
    val b = store.ofBranch(branchName)
    val target = b.latestSnapshot.getOrElse(
      throw new IllegalArgumentException(s"branch $branchName has no snapshots"))
    val targetFiles = b.liveFiles(target)
    val current = store.latestSnapshot.map(store.liveFiles).getOrElse(Nil)
    val targetPaths = targetFiles.map(_.path).toSet
    val currentPaths = current.map(_.path).toSet
    commitFiles(
      current.filterNot(f => targetPaths.contains(f.path))
        .map(ManifestEntry(ManifestEntry.DELETE, _)) ++
        targetFiles.filterNot(f => currentPaths.contains(f.path))
          .map(ManifestEntry(ManifestEntry.ADD, _)),
      CommitKind.OVERWRITE)
  }

  // ================= schema-merge write =================

  /** Write with schema merging: unknown input columns are ADDED to the
    * table schema, safe numeric widenings applied, then the write proceeds
    * under the evolved schema with absent columns null-filled (reference:
    * SchemaMergingUtils.mergeSchemas:41 + the `write.merge-schema` option).
    */
  def writeWithSchemaMerge(df: DataFrame): Snapshot =
    write(conformWithSchemaMerge(df))

  /** The schema-merge half of [[writeWithSchemaMerge]]: evolve the table to
    * absorb `df`'s unknown columns / safe widenings, and return `df`
    * conformed to the evolved schema. `carryCols` pass through untouched
    * WITHOUT joining the table schema — e.g. a CDC op column that routes
    * row kinds but must not be persisted (graft.cdc.JsonCdcIngest).
    */
  def conformWithSchemaMerge(df: DataFrame,
      carryCols: Seq[String] = Nil): DataFrame = {
    val ladder = Seq(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)
    // recursive merge (reference: SchemaMergingUtils.mergeSchemas:41 merges
    // nested RowTypes too): unknown fields are ADDED at their path, safe
    // numeric widenings applied, narrower input cast on write
    def mergeAt(path: Seq[String], current: Seq[graft.core.Field],
        incoming: Seq[StructField]): Unit = incoming.foreach { in =>
      val p = (path :+ in.name).mkString(".")
      current.find(_.name == in.name) match {
        case None => addColumn(p, in.dataType)
        case Some(cur) if cur.sparkType == in.dataType => ()
        case Some(cur) => (cur.sparkType, in.dataType) match {
          case (_: StructType, inSt: StructType) if cur.nested.nonEmpty =>
            mergeAt(path :+ in.name, cur.nested, inSt.fields.toSeq)
          case (curT, inT) =>
            val (ci, ii) = (ladder.indexOf(curT), ladder.indexOf(inT))
            if (ci >= 0 && ii > ci) updateColumnType(p, inT)
            else if (ci >= 0 && ii >= 0) () // narrower input: cast on write
            else throw new IllegalArgumentException(
              s"cannot merge $p: ${cur.dataType} vs $inT")
        }
      }
    }
    mergeAt(Nil, schema.fields,
      df.schema.fields.toSeq.filterNot(f => carryCols.contains(f.name)))
    // null-fill absent top-level columns, then rebuild each struct column
    // child-by-child so absent NESTED fields null-fill too (a whole-column
    // positional cast cannot add members)
    val cols = schema.fields.map { f =>
      if (!df.columns.contains(f.name)) lit(null).cast(f.sparkType).as(f.name)
      else if (f.nested.isEmpty) col(f.name)
      else {
        val inType = df.schema(f.name).dataType.asInstanceOf[StructType]
        // child present in input → take it; absent → null
        def conformIn(src: Column, cur: graft.core.Field, inT: StructType): Column =
          when(src.isNull, lit(null).cast(cur.sparkType)).otherwise(struct(
            cur.nested.map { c =>
              if (!inT.fieldNames.contains(c.name)) lit(null).cast(c.sparkType).as(c.name)
              else (c.nested, inT(c.name).dataType) match {
                case (n, st: StructType) if n.nonEmpty =>
                  conformIn(src.getField(c.name), c, st).as(c.name)
                case _ => src.getField(c.name).cast(c.sparkType).as(c.name)
              }
            }: _*))
        conformIn(col(f.name), f, inType).as(f.name)
      }
    }
    df.select(cols ++ carryCols.map(col): _*)
  }

  /** Append-table write (reference: append/AppendOnlyWriter.java:62 — here
    * Spark's parquet writer is the rolling writer; the commit registers files).
    */
  def append(df: DataFrame, commitIdentifier: Long = -1L,
      commitUser: String = ""): Snapshot = {
    require(!isPrimaryKeyed, "use upsert() for primary-key tables")
    // bucketed append: cluster fresh data on (partition, bucket) so each
    // group is written by one task — same shape as the PK write path
    val prepared = align(ComputedColumns(schema, df))
    val routed =
      if (!schema.appendBucketed) prepared
      else prepared.withColumn(BucketCol, appendBucketExpr)
        .repartition((schema.partitionKeys :+ BucketCol).map(col): _*)
    val files = stageWrite(routed, level = 0, seq = nextSeq)
    val snap = commitFiles(files.map(ManifestEntry(ManifestEntry.ADD, _)),
      CommitKind.APPEND, commitIdentifier, commitUser = commitUser)
    postWriteCompact().getOrElse(snap)
  }

  /** Writer-side automatic compaction, mirroring the reference's in-writer
    * `MergeTreeCompactManager`: after each data commit, unless
    * `write-only = true` (CoreOptions WRITE_ONLY — dedicated compact jobs
    * set it so ingest never stalls on compaction), run the universal picker;
    * and when `full-compaction.delta-commits = N` is set, force a FULL
    * compaction every N data commits (the cadence that makes
    * `changelog-producer = full-compaction` emit its -U/+U stream;
    * reference: CoreOptions FULL_COMPACTION_DELTA_COMMITS,
    * FullChangelogMergeTreeCompactRewriter.java:43).
    */
  private def postWriteCompact(): Option[Snapshot] = {
    // write-only skips BOTH compaction and expiration (reference:
    // CoreOptions WRITE_ONLY — the dedicated compact-job pattern)
    if (schema.option("write-only", "false").toBoolean) return None
    // Best-effort, like the reference's writer-embedded compaction: the
    // DATA commit already succeeded and is durable, so NO maintenance
    // failure may propagate — a caller seeing the write "fail" would retry
    // and duplicate rows. Conflict aborts are the common case (a racing
    // writer re-picks next commit); anything else non-fatal is logged.
    try {
      val fullEvery = schema.option("full-compaction.delta-commits", "0").toInt
      val dataSnap =
        if (fullEvery > 0) {
          val ids = store.snapshotIds
          val lastCompact = ids.reverse
            .find(id => store.readSnapshot(id).commitKind == CommitKind.COMPACT)
          val deltas = ids.count(id => lastCompact.forall(id > _))
          if (deltas >= fullEvery) Some(compact()) else None
        } else maybeCompact()
      // AFTER the data pass: an index-only COMPACT commit must not reset
      // the full-compaction.delta-commits cadence computed above. Always
      // evaluated — orElse alone would skip it whenever data compacted.
      val idxSnap = compactIndexIfNeeded()
      dataSnap.orElse(idxSnap)
    } catch {
      case e if scala.util.control.NonFatal(e) =>
        logWarning("post-commit compaction failed (write already durable)", e)
        None
    } finally
      try postWriteExpire()
      catch {
        case e if scala.util.control.NonFatal(e) =>
          logWarning("post-commit snapshot expiration failed (write already durable)", e)
      }
  }

  /** In-commit snapshot expiration, like the reference's
    * `TableCommitImpl.expireSnapshots` — but opt-in: only when
    * `snapshot.num-retained.max` is set explicitly (the reference's 1-hour
    * `snapshot.time-retained` default would make time travel silently
    * lossy in a library whose tests and fixtures travel freely; an
    * operator bounding chain growth sets the option and gets the same
    * per-commit cadence).
    */
  private def postWriteExpire(): Unit = {
    schema.options.get("snapshot.num-retained.max").map(_.toInt).foreach { max =>
      if (store.snapshotIds.size > max) expireSnapshots(retainLast = max)
    }
    // age bound, also opt-in (reference default: 1h — see the note above);
    // always keeps snapshot.num-retained.min newest (reference default 10)
    schema.options.get("snapshot.time-retained").foreach { d =>
      expireSnapshotsOlderThan(Maintenance.parseDurationMillis(d),
        retainMin = schema.option("snapshot.num-retained.min", "10").toInt)
    }
  }

  /** Primary-key upsert: route rows to (partition, bucket), sort within
    * buckets by key, flush as level-0 sorted runs (reference write path:
    * TableWriteImpl.java:129 + MergeTreeWriter.java:57; the
    * repartition+sortWithinPartitions IS the memtable+flush, executed
    * distributed).
    *
    * @param kinds optional row-kind column (byte codes, see [[graft.GraftMeta]]);
    *              defaults to +I.
    */
  def upsert(df: DataFrame, kinds: Option[Column] = None,
      commitIdentifier: Long = -1L, commitUser: String = ""): Snapshot = {
    require(isPrimaryKeyed, "upsert requires primary keys")
    val seq = nextSeq
    val pkCols = schema.primaryKeys.map(col)
    // kind precedence: explicit `kinds` param, then the `rowkind.field`
    // option (a string column carrying +I/-U/+U/-D — CDC-shaped ingest via
    // plain SQL INSERT / streaming writes; reference:
    // table/sink/RowKindGenerator.java:34), else +I
    val kindExpr = kinds.orElse(schema.options.get("rowkind.field").map { f =>
      require(schema.fields.exists(_.name == f), s"rowkind.field '$f' not in schema")
      val c = col(f)
      when(c === "+I", lit(KindInsert))
        .when(c === "-U", lit(KindUpdateBefore))
        .when(c === "+U", lit(KindUpdateAfter))
        .when(c === "-D", lit(KindDelete))
        .otherwise(raise_error(concat(
          lit(s"rowkind.field '$f' must be one of +I/-U/+U/-D, found: "),
          coalesce(c, lit("null")))))
    })
    // resolve the kind expression against the caller's frame (it may reference
    // caller-only columns, e.g. MERGE INTO's action marker), then align
    val prepared = ComputedColumns(schema, df)
      .withColumn(KindCol, kindExpr.getOrElse(lit(KindInsert)).cast(ByteType))
      .select(schema.fields.map(f => col(f.name).cast(f.sparkType).as(f.name)) :+ col(KindCol): _*)
      .withColumn(SeqCol, lit(seq))
      // later input rows win ties within one commit (per input partition;
      // the id is captured BEFORE the bucket shuffle, so it reflects source
      // order, not shuffle arrival order)
      .withColumn(PosCol, monotonically_increasing_id())
    // ignore-delete: retraction records never reach the files (reference:
    // TableWriteImpl skips them; the merge engines re-check for tables
    // that enabled the option after writing retracts)
    val kept =
      if (!schema.ignoreDelete) prepared
      else prepared.filter(col(KindCol) =!= lit(KindDelete) &&
        col(KindCol) =!= lit(KindUpdateBefore))
    val (shuffled, indexDelta) = pkStagePrep(kept)
    val files = stageWrite(shuffled, level = 0, seq = seq)
    val snap = commitFiles(
      files.map(ManifestEntry(ManifestEntry.ADD, _)) ++ dvMaskEntries(files),
      CommitKind.APPEND, commitIdentifier, commitUser = commitUser,
      changelog = lookupChangelog(files, seq),
      indexFiles = indexDelta ++ globalIndexDelta(files))
    val result = postWriteCompact().getOrElse(snap)
    GraftTable.lastUpsert.set(result)
    result
  }

  /** Bucket-route, dedup (dv mode), and sort a kind/seq/pos-decorated frame
    * for staging — the shared tail of upsert and PK overwrite. Returns the
    * shuffle-ready frame plus any dynamic-bucket index delta.
    */
  private def pkStagePrep(unchecked: DataFrame): (DataFrame, Seq[String]) = {
    val prepared = unchecked.withColumns(schema.primaryKeys.map(k => k ->
      when(col(k).isNull, raise_error(lit(s"primary key column $k must not be null")))
        .otherwise(col(k))).toMap)
    // deletion-vector mode: the batch must hold ONE row per key (the L0
    // files are read raw, never merged), so keep the last version per key
    // before bucketing — one extra key-shuffle, the documented write cost
    // of the mode (reference: deletion-vectors.enabled write path)
    val batch =
      if (!schema.deletionVectors) prepared
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy((schema.partitionKeys ++ schema.primaryKeys).map(col): _*)
          .orderBy(col(PosCol).desc)
        prepared.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }
    val (bucketed, indexDelta) =
      if (schema.dynamicBucket) assignDynamicBuckets(batch)
      else (batch.withColumn(BucketCol,
        pmod(hash(schema.bucketKeys.map(col): _*), lit(schema.numBuckets))), Nil)
    val sortCols = (dirCols() ++ schema.primaryKeys).map(col) ++
      schema.sequenceField.map(col).toSeq
    (bucketed
      .repartition((schema.partitionKeys :+ BucketCol).map(col): _*)
      .sortWithinPartitions(sortCols: _*), indexDelta)
  }

  /** Fold per-file row-position hits into DV sidecars ON THE EXECUTORS and
    * return the manifest delta. `hits` must have columns `__f` (path
    * relative to the data dir) and `__bm` (serialized bitmap from
    * [[graft.functions.BitmapAgg]]). Sidecar bytes are written inside the
    * aggregation's own tasks — enforced by a TaskContext guard — and the
    * driver collects only O(files) `(path, dvPath, cardinality)` tuples,
    * never bitmap bytes: an epoch touching 10⁵ files does 10⁵ parallel
    * task-side writes, not a driver-serial loop (reference: task-side
    * IndexFileHandler writes DV index files in the writer, not the
    * committer). A file's existing DV ORs in executor-side; fully
    * superseded files emit a bare DELETE without writing a sidecar.
    */
  private[table] def dvSidecarEntries(hits: DataFrame,
      files: Map[String, DataFileMeta]): Seq[ManifestEntry] = {
    import spark.implicits._
    val rootStr = store.root
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    // O(files) metadata to tasks: just (dvPath, rowCount) per touched path
    val fileMeta = spark.sparkContext.broadcast(
      files.view.mapValues(f => (f.dvPath, f.rowCount)).toMap)
    val written = hits.select(col("__f"), col("__bm"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        require(org.apache.spark.TaskContext.get() != null,
          "dv sidecars must be written executor-side, inside a task")
        it.map { case (path, bytes) =>
          val bm = graft.functions.BitmapAgg.deserialize(bytes)
          val (dvOpt, rowCount) = fileMeta.value(path)
          dvOpt.foreach(p => bm.or(FileStore.readDvAt(rootStr, serConf.value, p)))
          val card = bm.getLongCardinality
          val dvPath = if (card >= rowCount) null
            else FileStore.writeDvAt(rootStr, serConf.value, bm)
          (path, dvPath, card)
        }
      }
      .collect() // O(files) small tuples — commit metadata only
    written.toSeq.flatMap { case (path, dvPath, card) =>
      val f = files(path)
      if (dvPath == null)
        Seq(ManifestEntry(ManifestEntry.DELETE, f)) // fully superseded → drop
      else
        Seq(ManifestEntry(ManifestEntry.DELETE, f),
          ManifestEntry(ManifestEntry.ADD,
            f.copy(dvPath = Some(dvPath), dvCount = card)))
    }
  }

  /** Deletion-vector upsert masks: every key in the freshly staged L0 files
    * supersedes its copy in OLDER live files, which gets marked in that
    * file's bitmap instead of waiting for merge-on-read (reference:
    * deletion-vectors.enabled — there maintained by lookup compaction; here
    * the distributed analog: semi-join the touched buckets' prior state
    * against the new keys by position). O(touched-bucket bytes) read,
    * O(files) bitmap metadata — no data rewrite. `-D` rows stay in L0 as
    * tombstones the scan filters and compaction drops.
    */
  private def dvMaskEntries(newFiles: Seq[DataFileMeta]): Seq[ManifestEntry] = {
    if (!schema.deletionVectors || newFiles.isEmpty) return Nil
    val snapOpt = store.latestSnapshot
    if (snapOpt.isEmpty) return Nil
    val touched = newFiles.map(f => (f.partition, f.bucket)).toSet
    val old = store.liveFiles(snapOpt.get)
      .filter(f => touched.contains((f.partition, f.bucket)))
    if (old.isEmpty) return Nil
    val keyCols = schema.partitionKeys ++ schema.primaryKeys
    // keys of the new batch, read back from the just-staged L0 files (one
    // cheap columnar scan of the pk columns; ends in a distinct-shuffle so
    // AQE sizes the semi-join and broadcast-converts small batches)
    val newKeys = rawDF(newFiles).select(keyCols.map(col): _*).distinct()
    // (partition+pk, file, row position) of the prior state, every schema
    // version aligned by field id in one read. The scan masks prior DVs,
    // so already-masked positions do not re-match.
    val oldPositions = rawDF(old).select(keyCols.map(col) :+
      col(graft.spark.v2.GraftSparkTable.FilePathCol).as("__f") :+
      col(graft.spark.v2.GraftSparkTable.RowIndexCol).as("__i"): _*)
    val hits = oldPositions
      .join(newKeys, keyCols)
      .groupBy("__f").agg(graft.functions.BitmapAgg.collect(col("__i")).as("__bm"))
    dvSidecarEntries(hits, byFilePath(old))
  }

  /** `changelog-producer = lookup`: per-COMMIT -U/+U/-D/+I changelog by
    * looking up pre-images at write time, so streaming readers get exact
    * retractions WITHOUT waiting for a full compaction (reference:
    * LookupMergeTreeCompactRewriter.java:51, LookupLevels.java:64 — there a
    * file-level point lookup; here one bucket-local merge read of the
    * touched buckets, old files plus the commit's, that compares each key's
    * merged pre-image (the old files) with its merged state after the
    * commit; no table-wide work).
    */
  private def lookupChangelog(newFiles: Seq[DataFileMeta], seq: Long): Seq[ManifestEntry] = {
    if (schema.changelogProducer != ChangelogProducer.Lookup || newFiles.isEmpty) return Nil
    val live = store.latestSnapshot.map(store.liveFiles).getOrElse(Nil)
    val oldFiles =
      if (schema.crossPartition) {
        val buckets = newFiles.map(_.bucket).toSet
        crossPartitionPreImage(newFiles,
          live.filter(f => buckets.contains(f.bucket)),
          store.latestSnapshot.map(_.indexFiles).getOrElse(Nil))
      } else {
        val groups = newFiles.map(f => (f.partition, f.bucket)).toSet
        live.filter(f => groups.contains((f.partition, f.bucket)))
      }
    stageChangelog(oldFiles ++ newFiles, graft.spark.v2.ChangelogPass(
      oldFiles.map(_.path).toSet, storedPreImage = false, seq))
  }

  /** Stage the changelog pass over `files` as level-0 changelog files. */
  private[table] def stageChangelog(files: Seq[DataFileMeta],
      pass: graft.spark.v2.ChangelogPass,
      nowSec: Long = System.currentTimeMillis() / 1000): Seq[ManifestEntry] =
    stageWrite(GraftScan.changelogInput(this, files, pass, nowSec), level = 0, seq = pass.seq)
      .map(ManifestEntry(ManifestEntry.ADD, _))

  /** Bound a cross-partition changelog pre-image with the global pk index:
    * join the commit's touched key hashes against the persisted index and
    * keep only live files in (partition, bucket) groups that ever held a
    * touched key — instead of every partition of every touched bucket, the
    * one unbounded read shape in the write path at 100-TB partition counts
    * (reference: GlobalIndexAssigner.java:76 bounds the same read with a
    * RocksDB pk index). The driver collects O(touched groups) — group ids,
    * never rows. Stale index entries (keys that moved, were deleted, or
    * compacted away) only widen the set, never truncate it. Falls back to
    * the full bucket set when the index is disabled or absent.
    */
  private[graft] def crossPartitionPreImage(newFiles: Seq[DataFileMeta],
      bucketFiles: Seq[DataFileMeta], indexDirs: Seq[String]): Seq[DataFileMeta] = {
    if (!schema.globalIndexEnabled || indexDirs.isEmpty || bucketFiles.isEmpty)
      return bucketFiles
    val touched = rawDF(newFiles)
      .select(xxhash64(schema.primaryKeys.map(col): _*).as("__kh")).distinct()
    val idx = spark.read.parquet(
      indexDirs.map(d => new Path(store.rootPath, d).toString): _*)
    val groups = idx.join(touched, "__kh")
      .select(col("__pt"), col(BucketCol)).distinct()
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    bucketFiles.filter(f =>
      groups.contains((GraftTable.encodePartition(f.partition), f.bucket)))
  }

  /** Append a global-index delta covering the just-staged files: distinct
    * (xxhash64(pk), partition, bucket) triples read back from the new
    * files' key columns — one cheap columnar scan of the commit's own
    * output, O(commit) not O(table). Called by EVERY commit that ADDs data
    * files to a cross-partition table (upsert, PK overwrite, compaction
    * rewrites), so the invariant "the index covers every live row" holds
    * unconditionally and [[crossPartitionPreImage]] never misses a group.
    */
  private[graft] def globalIndexDelta(newFiles: Seq[DataFileMeta]): Seq[String] = {
    if (!schema.globalIndexEnabled || newFiles.isEmpty) return Nil
    val rel = s"index/global-${UUID.randomUUID()}"
    globalIndexRows(newFiles).sortWithinPartitions("__kh")
      .write.parquet(new Path(store.rootPath, rel).toString)
    Seq(rel)
  }

  /** Distinct (`__kh` = xxhash64(pk), `__pt`, `__bucket`) global-index rows
    * of every row of `files`, in one raw read.
    */
  private[table] def globalIndexRows(files: Seq[DataFileMeta]): DataFrame = {
    val fileMap = spark.createDataFrame(files.map(f =>
      (GraftScan.filePath(location, f.path), GraftTable.encodePartition(f.partition), f.bucket)))
      .toDF("__f", "__pt", BucketCol)
    rawDF(files)
      .select(xxhash64(schema.primaryKeys.map(col): _*).as("__kh"),
        col(graft.spark.v2.GraftSparkTable.FilePathCol).as("__f"))
      .join(broadcast(fileMap), "__f")
      .select(col("__kh"), col("__pt"), col(BucketCol)).distinct()
  }

  /** Dynamic-bucket (`bucket = -1`) key routing: buckets grow with the data
    * instead of being fixed at CREATE (reference: BucketMode.HASH_DYNAMIC,
    * index/HashBucketAssigner.java:37, DynamicBucketRowKeyExtractor.java).
    *
    * The authoritative pk-hash → bucket map lives in parquet index deltas
    * under `index/`, registered in each snapshot (`Snapshot.indexFiles`)
    * and carried forward monotonically. A write:
    *   1. joins incoming distinct key hashes against the index (distributed
    *      shuffle join — the index is data, never driver state);
    *   2. assigns unseen keys: hashes shard across
    *      `dynamic-bucket.assigner-parallelism` independent assigners, each
    *      owning buckets ≡ shard (mod N) and filling them to
    *      `dynamic-bucket.target-row-num` keys before opening its next one —
    *      so bulk new-key assignment is N parallel rank computations;
    *   3. materializes the new assignments as an index delta and routes the
    *      batch through the updated map.
    *
    * Hash collisions co-locate their keys in one bucket (consistent, merely
    * conservative). Like the reference, assignment assumes one writer per
    * table at a time; the optimistic commit still detects snapshot races.
    */
  private def assignDynamicBuckets(prepared: DataFrame): (DataFrame, Seq[String]) = {
    require(!schema.crossPartition,
      "dynamic bucket (bucket=-1) requires partition keys contained in the primary key")
    val kh = "__kh"
    val shard = "__shard"
    val ptCols = schema.partitionKeys
    val joinKeys = ptCols :+ kh
    val shards = math.max(1, schema.dynamicBucketAssigners)
    val target = math.max(1L, schema.dynamicBucketTargetRows)
    val idxDirs = store.latestSnapshot.map(_.indexFiles).getOrElse(Nil)
    val existing: DataFrame =
      if (idxDirs.isEmpty) {
        val fields = ptCols.map(p => schema.fieldByName(p).toStructField) ++
          Seq(StructField(kh, IntegerType, nullable = false),
            StructField(BucketCol, IntegerType, nullable = false))
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(fields))
      } else spark.read
        .parquet(idxDirs.map(d => new Path(store.rootPath, d).toString): _*)
    val withKh = prepared.withColumn(kh, hash(schema.primaryKeys.map(col): _*))
    val incoming = withKh.select(joinKeys.map(col): _*).distinct()
    val newKeys = incoming.join(existing, joinKeys, "left_anti")
      .withColumn(shard, pmod(col(kh), lit(shards)))
    val counts = existing
      .withColumn(shard, pmod(col(kh), lit(shards)))
      .groupBy((ptCols :+ shard).map(col): _*).agg(count(lit(1)).as("__cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((ptCols :+ shard).map(col): _*).orderBy(col(kh))
    val assigned = newKeys
      .join(counts, ptCols :+ shard, "left_outer")
      .withColumn("__pos", coalesce(col("__cnt"), lit(0L)) + row_number().over(w) - 1)
      .withColumn(BucketCol,
        (col(shard) + floor(col("__pos") / target) * shards).cast("int"))
      .select(joinKeys.map(col) :+ col(BucketCol): _*)
    val deltaRel = s"index/delta-${UUID.randomUUID()}"
    val deltaPath = new Path(store.rootPath, deltaRel)
    assigned.sortWithinPartitions(kh).write.parquet(deltaPath.toString)
    // re-read the just-written delta: assignments materialize exactly once,
    // the routing join never recomputes the rank window
    val hasRows = store.fs.listStatus(deltaPath)
      .exists(st => st.isFile && st.getPath.getName.startsWith("part-") && st.getLen > 0)
    val (fullIndex, delta) =
      if (hasRows)
        (existing.unionByName(spark.read.parquet(deltaPath.toString)), Seq(deltaRel))
      else { store.fs.delete(deltaPath, true); (existing, Nil) }
    (withKh.join(fullIndex, joinKeys, "inner").drop(kh), delta)
  }

  /** INSERT OVERWRITE: whole table, a static partition spec, or dynamic
    * partitions (reference: FileStoreCommitImpl.overwrite:363,
    * PaimonDynamicPartitionOverwriteCommand.scala).
    */
  def overwrite(df: DataFrame, staticPartition: Map[String, String] = Map.empty,
      dynamic: Boolean = false, expectedLatest: Option[Long] = None,
      commitUser: String = ""): Snapshot = {
    val seq = nextSeq
    // PK tables route through the bucketed write path (kind +I; the
    // OVERWRITE commit replaces the old file set, so no merge history or
    // dv masks are needed for the replaced scope)
    val prepared =
      if (!isPrimaryKeyed) {
        val a = align(df)
        if (!schema.appendBucketed) a
        else a.withColumn(BucketCol, appendBucketExpr)
          .repartition((schema.partitionKeys :+ BucketCol).map(col): _*)
      } else pkStagePrep(
        align(df).withColumn(KindCol, lit(KindInsert).cast(ByteType))
          .withColumn(SeqCol, lit(seq))
          .withColumn(PosCol, monotonically_increasing_id()))._1
    val files = stageWrite(prepared, level = 0, seq = seq)
    val live = store.latestSnapshot.map(store.liveFiles).getOrElse(Nil)
    val ptIdx = schema.partitionKeys.zipWithIndex.toMap
    val deleted =
      if (staticPartition.nonEmpty)
        live.filter(f => staticPartition.forall { case (k, v) => f.partition(ptIdx(k)) == v })
      else if (dynamic) {
        val newParts = files.map(_.partition).toSet
        live.filter(f => newParts.contains(f.partition))
      } else live
    commitFiles(
      deleted.map(ManifestEntry(ManifestEntry.DELETE, _)) ++
        files.map(ManifestEntry(ManifestEntry.ADD, _)),
      CommitKind.OVERWRITE, indexFiles = globalIndexDelta(files),
      expectedLatest = expectedLatest, commitUser = commitUser)
  }

  /** TRUNCATE: new snapshot removing all files (reference:
    * PaimonTruncateTableCommand.scala). */
  def truncate(): Snapshot = {
    val live = store.latestSnapshot.map(store.liveFiles).getOrElse(Nil)
    commitFiles(live.map(ManifestEntry(ManifestEntry.DELETE, _)), CommitKind.OVERWRITE)
  }

  def commitFiles(entries: Seq[ManifestEntry], kind: String,
      commitIdentifier: Long = -1L,
      commitUser: String = "",
      changelog: Seq[ManifestEntry] = Nil,
      indexFiles: Seq[String] = Nil,
      consumedIndexFiles: Seq[String] = Nil,
      expectedLatest: Option[Long] = None): Snapshot = {
    val s = store.commit(entries, kind, commitIdentifier, watermarkOf(entries),
      changelog = changelog, newIndexFiles = indexFiles,
      consumedIndexFiles = consumedIndexFiles,
      commitUser = commitUser, expectedLatest = expectedLatest).snapshot
    autoCreateTag(s)
    notifyCommitCallbacks(s, entries)
    s
  }

  /** Post-commit extension hook (reference: table/sink/CommitCallback.java
    * :36 + CoreOptions "commit.callbacks") — e.g. registering new
    * partitions with an external metastore. Invoked AFTER the durable
    * commit; per the reference contract the callback must be idempotent
    * (a crash between commit and callback means it may never fire, a retry
    * may fire it twice) and its failure must not fail the already-durable
    * write, so exceptions are logged and swallowed. Instances are cached
    * per class name for the table's lifetime.
    */
  private lazy val commitCallbacks: Seq[graft.core.CommitCallback] =
    schema.option("commit.callbacks", "").split(',').map(_.trim).filter(_.nonEmpty)
      .toSeq.flatMap { cls =>
        // class resolvability is checked at DDL time (TableSchema.validate),
        // but a table created elsewhere (or a class dropped since) must not
        // fail an already-durable commit: instantiation failures are
        // logged and the callback skipped, same contract as call() failures
        try Some(Class.forName(cls).getDeclaredConstructor().newInstance()
          .asInstanceOf[graft.core.CommitCallback])
        catch {
          case e if scala.util.control.NonFatal(e) =>
            logWarning(s"commit callback $cls could not be instantiated; " +
              "skipping (commit already durable)", e)
            None
        }
      }

  private def notifyCommitCallbacks(s: Snapshot, entries: Seq[ManifestEntry]): Unit =
    commitCallbacks.foreach { cb =>
      try cb.call(this, s, entries)
      catch {
        case e if scala.util.control.NonFatal(e) =>
          logWarning(s"commit callback ${cb.getClass.getName} failed " +
            "(commit already durable)", e)
      }
    }

  /** Time-based automatic tags (reference: tag/TagAutoCreation.java,
    * CoreOptions 'tag.automatic-creation' = process-time | watermark,
    * 'tag.creation-period' = daily | hourly, 'tag.num-retained-max').
    * After each commit, the snapshot is tagged with its period bucket name
    * (yyyy-MM-dd[ HH]) if that period has no tag yet — the first commit of
    * a period pins it; old auto tags beyond the retention cap are dropped
    * (oldest first). O(tags) driver-side metadata work per commit.
    */
  private def autoCreateTag(s: Snapshot): Unit = {
    val mode = schema.option("tag.automatic-creation", "none")
    if (mode != "process-time" && mode != "watermark") return
    val timeMs = mode match {
      case "watermark" => s.watermark.getOrElse(return)
      case _ => s.timestampMs
    }
    val fmt = schema.option("tag.creation-period", "daily") match {
      case "hourly" => "yyyy-MM-dd HH"
      case _ => "yyyy-MM-dd"
    }
    // 'tag.creation-delay': the period is pinned by the first commit at or
    // after period-start + delay, so late data arriving inside the delay
    // window lands BEFORE the pin (reference: TagTimeExtractor +
    // TagAutoCreation's creation-delay handling)
    val delay = schema.options.get("tag.creation-delay")
      .map(TableSchema.parseDurationMillis).getOrElse(0L)
    if (delay > 0) {
      val unit = if (fmt.contains("HH")) java.time.temporal.ChronoUnit.HOURS
        else java.time.temporal.ChronoUnit.DAYS
      val periodStart = java.time.Instant.ofEpochMilli(timeMs).truncatedTo(unit)
      if (timeMs < periodStart.toEpochMilli + delay) return
    }
    val name = java.time.Instant.ofEpochMilli(timeMs)
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern(fmt))
    if (!store.listTags.exists(_._1 == name)) {
      // auto tags inherit the table's default TTL (reference: CoreOptions
      // "tag.default-time-retained")
      val ttl = schema.options.get("tag.default-time-retained")
        .map(TableSchema.parseDurationMillis)
      store.createTag(name, s.id, ttl)
      val max = schema.option("tag.num-retained-max", "").toIntOption.getOrElse(Int.MaxValue)
      val auto = store.listTags.map(_._1).filter(looksLikeAutoTag).sorted
      auto.dropRight(max).foreach(store.deleteTag)
    }
    expireTags()
  }

  /** Drop every tag whose time-to-live has elapsed; tags without a TTL
    * never expire. Returns the deleted names. O(tags) metadata work
    * (reference: tag/TagTimeExpire.expire).
    */
  def expireTags(nowMs: Long = System.currentTimeMillis()): Seq[String] =
    store.listTags.map(_._1).filter { n =>
      store.readTagMeta(n) match {
        case (Some(created), Some(retained)) => created + retained <= nowMs
        case _ => false
      }
    }.map { n => store.deleteTag(n); n }

  private def looksLikeAutoTag(n: String): Boolean =
    n.matches("""\d{4}-\d{2}-\d{2}( \d{2})?""")

  /** Event-time watermark of a commit, derived from the per-file max stats
    * of the configured `watermark.column` — no extra pass over the data
    * (reference: Snapshot.watermark field, Snapshot.java:176; the store
    * keeps it monotone across commits).
    */
  private def watermarkOf(entries: Seq[ManifestEntry]): Option[Long] =
    schema.options.get("watermark.column").flatMap { c =>
      entries.collect {
        case ManifestEntry(ManifestEntry.ADD, f) => f.stats.get(c).flatMap(_.max)
      }.flatten.flatMap(_.toLongOption).maxOption
    }

  // ================= staging write =================

  /** Write a prepared frame into a staging dir through Spark's file writer
    * for the level's format, collecting each file's stats in the writer
    * task ([[FileStatsTracker]]), then move the files into the table layout.
    * Executors do all data work; the driver only handles metadata (the
    * property that scales to 1000 executors).
    */
  def stageWrite(prepared: DataFrame, level: Int, seq: Long): Seq[DataFileMeta] = {
    // not dot-prefixed: Spark's file listing filters hidden paths
    val stagingName = s"tmp-staging-${UUID.randomUUID()}"
    val staging = new Path(store.rootPath, stagingName)
    val dirs = dirCols()
    // bucketed append table: the bucket is a pure function of the row, so
    // it is (re)computed for EVERY staged frame — a projection, never a
    // shuffle, so callers keep their arranged layout (append/overwrite
    // cluster on (partition, bucket); sort compaction keeps its z-order).
    // Recomputing also re-routes a COW UPDATE that changed a bucket-key
    // column instead of stranding the row in a stale bucket dir
    // (reference: append-table HASH_FIXED routing via RowKeyExtractor).
    val routed =
      if (schema.appendBucketed) prepared.withColumn(BucketCol, appendBucketExpr)
      else prepared
    // per-LSM-level format: row-oriented L0 runs, columnar compacted base
    // (reference: CoreOptions FILE_FORMAT_PER_LEVEL)
    val fmtName = schema.fileFormatForLevel(level)
    // parquet's TIMESTAMP_MILLIS output drops sub-millisecond digits; drop
    // them before the write so the collected stats describe stored values
    // (a projection of data columns: the dirs' order the writer checks stays)
    val millis = fmtName == "parquet" &&
      spark.sessionState.conf.parquetOutputTimestampType ==
        org.apache.spark.sql.internal.SQLConf.ParquetOutputTimestampType.TIMESTAMP_MILLIS
    val written = routed.schema.fields.foldLeft(routed) { (df, f) =>
      if (millis && f.dataType == TimestampType && !dirs.contains(f.name))
        df.withColumn(f.name, date_trunc("millisecond", col(f.name)))
      else df
    }
    // codec: per-LSM-level override first ("0:lz4,5:zstd" — fast codec for
    // short-lived L0 runs, tight codec for the long-lived compacted base;
    // reference: CoreOptions "file.compression.per.level"), else the
    // table-level "file.compression", else Spark's format default
    val codec = schema.options.get("file.compression.per.level")
      .flatMap { spec =>
        spec.split(',').iterator.map(_.split(':')).collectFirst {
          case Array(l, c) if l.trim.toInt == level => c.trim
        }
      }
      .orElse(schema.options.get("file.compression"))
    // zstd effort and row-group/stripe sizing knobs (reference: CoreOptions
    // "file.compression.zstd-level", "file.block-size") map onto the
    // format writers' own options — block size is THE write-side lever for
    // scan parallelism granularity at 100 TB
    val options = codec.map("compression" -> _).toMap ++
      schema.options.get("file.compression.zstd-level")
        .map("parquet.compression.codec.zstd.level" -> _) ++
      schema.options.get("file.block-size").flatMap { b =>
        val bytes = TableSchema.parseBytes(b).toString
        fmtName match {
          case "parquet" => Some("parquet.block.size" -> bytes)
          case "orc" => Some("orc.stripe.size" -> bytes)
          case _ => None // avro sync interval is row-oriented; default stands
        }
      }
    val dataCols = written.schema.fields.filterNot(f => dirs.contains(f.name))
    def ordinalOf(name: String): Int = {
      val i = dataCols.indexWhere(_.name == name)
      require(i >= 0, s"staged frame lacks data column $name")
      i
    }
    val tracker = new FileStatsTracker(
      statCols().map { f =>
        val i = ordinalOf(f.name)
        StatColumn(f.name, i, dataCols(i).dataType, schema.statsMode(f.name))
      },
      bloomCols().map { f => val i = ordinalOf(f.name); (f.name, i, dataCols(i).dataType) },
      bloomBits, dirs.size)
    org.apache.spark.sql.graft.SparkShims.writeFiles(written,
      GraftTable.fileFormatFor(fmtName), staging.toString, dirs, options, Seq(tracker))

    try moveStaged(staging, tracker.files, level, seq)
    finally store.fs.delete(staging, true)
  }

  /** Columns we collect min/max/nullCount stats for — stat-typed columns
    * minus those opted out via `stats-mode = none` (reference:
    * NoneSimpleColStatsCollector — a wide table's payload columns skip
    * measurement entirely, keeping manifests lean at 100 TB).
    */
  private def statCols(s: TableSchema = schema): Seq[Field] =
    s.dataFields.filter { f =>
      (f.sparkType match {
        case _: NumericType | StringType | DateType | TimestampType |
             TimestampNTZType | BooleanType => true
        case _ => false
      }) && s.statsMode(f.name)._1 != "none"
    }

  /** Columns with a bloom index sidecar (option `file-index.bloom.columns`,
    * reference: BloomFilterFileIndex.java:48-95).
    */
  private def bloomCols(s: TableSchema = schema): Seq[Field] =
    s.options.get("file-index.bloom.columns").toSeq.flatMap(TableSchema.columnList)
      .filter(n => s.dataFields.exists(_.name == n))
      .map(s.fieldByName)

  private def bloomBits: Long =
    schema.option("file-index.bloom.bits", (1L << 20).toString).toLong

  /** Move the staged files into the table layout, each with the stats its
    * writer task collected. A staged file without stats, or stats of a
    * non-empty file the staging dir lacks, fails the write. Zero-row files
    * are never committed, whatever the format: they stay in the staging
    * dir, which the caller deletes.
    */
  private def moveStaged(staging: Path, written: Seq[WrittenFileStats],
      level: Int, seq: Long): Seq[DataFileMeta] = {
    val fs = store.fs
    val stagingName = staging.getName
    def relOf(p: Path): String = {
      val uri = p.toString
      val at = uri.indexOf(stagingName)
      require(at >= 0, s"unexpected staged file path: $uri")
      uri.substring(at + stagingName.length + 1)
    }
    val staged = {
      val it = fs.listFiles(staging, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) {
        val p = it.next().getPath
        if (!p.getName.startsWith("_") && !p.getName.startsWith(".")) b += relOf(p)
      }
      b.result()
    }
    val measured = written.map(_.relPath).toSet
    require(measured.size == written.size,
      s"stats collected twice for a staged file: ${written.map(_.relPath)}")
    val unmeasured = staged -- measured
    require(unmeasured.isEmpty,
      s"staged files without collected stats: ${unmeasured.mkString(", ")}")
    val kept = written.filter(_.rowCount > 0)
    val missing = kept.map(_.relPath).filterNot(staged)
    require(missing.isEmpty,
      s"collected stats for files the write did not stage: ${missing.mkString(", ")}")

    kept.map { w =>
      val rel = w.relPath
      // partition values from the directory segments, in dirCols order
      val segs = rel.split('/').dropRight(1)
      val kv = segs.map { s =>
        val i = s.indexOf('=')
        s.take(i) -> PartitionPathUtils.unescape(s.drop(i + 1))
      }.toMap
      val ptValues = schema.partitionKeys.map(k => kv.getOrElse(k, PartitionPathUtils.NullPartitionValue))
      val bucket = kv.get(BucketCol).map(_.toInt).getOrElse(0)
      val bloomPaths = w.blooms.map { case (n, b) => n -> store.writeBloom(b) }

      val fileName = rel.split('/').last
      val targetRel = (Seq("data") ++ segs :+ fileName).mkString("/")
      val target = new Path(store.rootPath, targetRel)
      fs.mkdirs(target.getParent)
      val src = new Path(staging, rel)
      require(fs.rename(src, target), s"failed to move $src -> $target")
      DataFileMeta(
        path = targetRel,
        size = fs.getFileStatus(target).getLen,
        rowCount = w.rowCount,
        partition = ptValues,
        bucket = bucket,
        level = level,
        minSeq = seq, maxSeq = seq,
        schemaId = schema.id,
        stats = w.stats,
        blooms = bloomPaths)
    }
  }
}

object GraftTable {
  /** Highest LSM level — fully-compacted files live here. */
  val MaxLevel = 5

  /** `v` as a Catalyst value of the key column `name` of type `dt`, or
    * None when no key can equal it. It compares as `col(name) === lit(v)`
    * does: Spark's type coercion resolves that equality (a string casts to
    * the column's type, so `"2024-1-6"` finds a date key; a string against
    * a decimal compares as a double; an int against a long widens). The
    * coerced literal, cast to `dt`, is the key when the coerced equality
    * holds for it (`1.5` or `2^40` for an int key match nothing). A value
    * the coercion cannot cast fails as the DataFrame's filter does.
    */
  private[graft] def keyValue(spark: SparkSession, name: String, dt: DataType,
      v: Any): Option[Any] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences, Cast, EqualTo, EvalMode, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    val lit = Literal(v)
    if (v == null) None
    else if (lit.dataType == dt) Some(lit.value)
    else {
      val attr = AttributeReference(name, dt)()
      val cond = spark.sessionState.analyzer.executeAndCheck(
        Filter(EqualTo(attr, lit), LocalRelation(attr)),
        new org.apache.spark.sql.catalyst.QueryPlanningTracker).asInstanceOf[Filter].condition
      val coerced = cond match {
        case EqualTo(_, right) => right
        case other => throw new IllegalStateException(s"unexpected key equality $other")
      }
      Option(coerced.eval())
        .flatMap(c => Option(Cast(Literal(c, coerced.dataType), dt,
          Some(SQLConf.get.sessionLocalTimeZone), EvalMode.TRY).eval()))
        .filter(k => BindReferences.bindReference(cond, Seq(attr))
          .eval(org.apache.spark.sql.catalyst.InternalRow(k)) == true)
    }
  }

  /** A pk index (`__kh` key hash rows) laid out for point probes: `files`
    * output files over disjoint `__kh` ranges, each sorted by `__kh`. A
    * probe's pushed `__kh` equality then skips, by their stats, every file,
    * row group and page that cannot hold the hash
    * (`GraftFileIndex.indexProbe`). Per-commit deltas only sort within
    * their files, which keeps the page skipping without a range-sampling job.
    */
  private[graft] def byKeyHash(index: DataFrame, files: Int): DataFrame =
    index.repartitionByRange(math.max(1, files), col("__kh")).sortWithinPartitions("__kh")

  /** File-format instance by name. */
  def fileFormatFor(name: String): org.apache.spark.sql.execution.datasources.FileFormat =
    name match {
      case "orc" => new graft.formats.GraftOrcFileFormat
      case "avro" => new graft.formats.GraftAvroFileFormat
      case _ => new ParquetFileFormat
    }

  /** Format of a data file from its extension (Spark writers always append
    * one, including through compression suffixes like `.snappy.parquet`).
    * None for unknown extensions — callers fall back to the file's SCHEMA
    * format. This is what makes `file.format.per.level` mixes readable:
    * each file self-describes its format.
    */
  def formatNameOfPath(path: String): Option[String] =
    if (path.endsWith(".parquet")) Some("parquet")
    else if (path.endsWith(".orc")) Some("orc")
    else if (path.endsWith(".avro")) Some("avro")
    else None

  /** Smallest string > every string with the given prefix, in code-point
    * (= UTF-8 byte) order: increment the rightmost code point that can be
    * incremented (skipping the surrogate range), drop the tail. None if
    * every code point is U+10FFFF.
    */
  def truncateUp(s: String): Option[String] = {
    val cps = s.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0 && cps(i) == Character.MAX_CODE_POINT) i -= 1
    if (i < 0) None
    else {
      val next = if (cps(i) + 1 == Character.MIN_SURROGATE) Character.MAX_SURROGATE + 1
        else cps(i) + 1
      cps(i) = next
      Some(new String(cps, 0, i + 1))
    }
  }

  def create(
      spark: SparkSession,
      path: String,
      schema: StructType,
      partitionKeys: Seq[String] = Nil,
      primaryKeys: Seq[String] = Nil,
      options: Map[String, String] = Map.empty): GraftTable = {
    // pk ⊉ partition keys → cross-partition mode: keys merge across
    // partitions by (bucket, pk); see TableSchema.crossPartition
    val store = new FileStore(path, spark.sessionState.newHadoopConf())
    require(!store.schemaExists, s"table already exists at $path")
    val ts = TableSchema.create(schema, partitionKeys, primaryKeys, options)
    ts.validateCreate()
    store.commitSchema(ts)
    new GraftTable(spark, store)
  }

  /** The snapshot the last `upsert` on this thread returned. */
  private val lastUpsert = new ThreadLocal[Snapshot]

  /** Runs `write`, a Spark plan whose commit is an `upsert` on this thread
    * (the delta write of a row-level operation), and returns the snapshot
    * that upsert returned.
    */
  private[table] def upsertOf(write: => Unit): Snapshot = {
    lastUpsert.remove()
    try {
      write
      Option(lastUpsert.get).getOrElse(
        throw new IllegalStateException("the row-level plan committed no upsert"))
    } finally lastUpsert.remove()
  }

  /** The table a first write to `path` creates: keyed and partitioned by
    * the write's `primary-keys` and `partition-keys` options, with every
    * other write option but `path` and `checkpointLocation` as a table
    * option.
    */
  def createForWrite(spark: SparkSession, path: String, schema: StructType,
      options: Map[String, String]): GraftTable = {
    def keys(k: String) = options.get(k).toSeq.flatMap(TableSchema.columnList)
    create(spark, path, schema, keys("partition-keys"), keys("primary-keys"),
      options -- Seq("path", "primary-keys", "partition-keys", "checkpointLocation"))
  }

  def load(spark: SparkSession, path: String): GraftTable = {
    val store = new FileStore(path, spark.sessionState.newHadoopConf())
    require(store.schemaExists, s"no graft table at $path")
    new GraftTable(spark, store)
  }

  def exists(spark: SparkSession, path: String): Boolean =
    new FileStore(path, spark.sessionState.newHadoopConf()).schemaExists

  /** Write-side CHAR/VARCHAR length semantics (ANSI, matching Spark's own
    * charVarcharTypeWriteSideCheck and the reference's declared-length
    * validation — reference: paimon-common schema/SchemaValidation.java):
    * values within the declared length pass; excess TRAILING SPACES trim
    * to fit; anything still longer fails the write with a per-column
    * error. CHAR additionally right-pads to the declared length, so
    * stored values are fixed-width. Codegen-friendly: pure builtin
    * when/length/substring/rpad, applied only to declared char/varchar
    * columns.
    */
  private[table] def charVarcharWriteSide(c: Column, name: String,
      isChar: Boolean, n: Int): Column = {
    val kind = if (isChar) "char" else "varchar"
    val fit = when(c.isNull, c)
      .when(length(c) <= n, c)
      .when(length(rtrim(c)) <= n, substring(c, 1, n))
      .otherwise(raise_error(concat(
        lit(s"input exceeds $kind($n) type length limitation for column '$name': length "),
        length(c).cast("string"))))
    if (isChar) rpad(fit, n, " ") else fit
  }

  /** Canonical string form of a partition-value tuple for global-index
    * rows. Only ever compared against itself (never parsed back), so any
    * injective separator works; \u0001 cannot appear in Hive-escaped values.
    */
  def encodePartition(values: Seq[String]): String = values.mkString("\u0001")
}
