package graft.spark.v2

import graft.GraftMeta
import graft.core._
import graft.merge.{ChangelogMergeRows, RowMerger, SortMergeRows}
import graft.spark.GraftFileIndex
import graft.table.GraftTable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, Cast, CreateNamedStruct, Expression, GenericInternalRow, GetStructField, If, IsNull, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.util.SerializableConfiguration
import scala.collection.JavaConverters._
import scala.collection.mutable

/** DSv2 scan pipeline (reference shape: PaimonBaseScanBuilder.scala:34,
  * PaimonScan/PaimonBatch, MergeFileSplitRead.java:73).
  *
  * Planning (driver): manifest-level shard skip → partition prune → bucket
  * prune → stats skip, then split generation: raw splits for append tables
  * and fully-compacted buckets (vectorized parquet), MERGE splits per
  * (partition, bucket) otherwise — each merge split is read with a k-way
  * sorted merge + merge-engine fold ON THE EXECUTOR, so a merged read
  * never shuffles the table. Compaction reads its input through the same
  * reader ([[GraftScan.compactionInput]]).
  */
class GraftScanBuilder(spark: SparkSession, table: GraftTable, snapshot: Option[Snapshot],
    readOptions: Map[String, String] = Map.empty,
    /** Raw mode over these files (see [[GraftScan.raw]]). */
    rawFiles: Option[Seq[DataFileMeta]] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownAggregates {

  private var pushedFiltersArr: Array[Filter] = Array.empty
  private var requiredSchema: StructType =
    if (rawFiles.isDefined) table.rawSchema else table.schema.structType
  private var limit: Option[Int] = None
  private var aggResult: Option[(StructType, Array[InternalRow])] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushedFiltersArr = filters
    // Exactly-decidable partition predicates are CONSUMED: partition
    // columns are constant across a file, and the planner evaluates those
    // shapes exactly per file, so no surviving row can violate them —
    // Spark drops its Filter node, which is also what lets a filtered
    // aggregate reach pushAggregation. Everything else stays residual
    // (stats pruning is best-effort only). Streaming scans never enter
    // this path: Spark builds them without filter pushdown.
    if (table.schema.crossPartition) filters
    else filters.filterNot(GraftAggPushdown.exactlyDecidable(table.schema, _))
  }

  override def pushedFilters(): Array[Filter] = pushedFiltersArr

  override def pruneColumns(required: StructType): Unit = {
    requiredSchema = required
  }

  override def pushLimit(l: Int): Boolean = {
    limit = Some(l)
    false // partial: we stop planning files early, Spark still applies limit
  }

  // metadata-only COUNT/MIN/MAX (see GraftAggPushdown). Complete pushdown
  // only: we answer from manifests exactly or not at all — partial
  // pushdown would still scan every file. A raw scan reads a file list,
  // not a snapshot, so it never answers from manifests.
  private def aggPlan(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation) =
    if (rawFiles.isDefined) None
    else GraftAggPushdown.plan(table, snapshot, pushedFiltersArr.toSeq, agg)

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    aggPlan(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    aggPlan(agg) match {
      case some @ Some(_) => aggResult = some; true
      case None => false
    }

  override def build(): Scan = aggResult match {
    case Some((aggSchema, rowsArr)) =>
      GraftLocalAggScan(aggSchema, rowsArr, table.location)
    case None =>
      new GraftScan(spark, table, snapshot, requiredSchema, pushedFiltersArr.toSeq, limit,
        filesOverride = rawFiles, readOptions = readOptions, raw = rawFiles.isDefined)
  }
}

class GraftScan(
    spark: SparkSession,
    table: GraftTable,
    snapshot: Option[Snapshot],
    requested: StructType,
    filters: Seq[Filter],
    limit: Option[Int],
    filesOverride: Option[Seq[DataFileMeta]] = None,
    readOptions: Map[String, String] = Map.empty,
    /** Output level of a compaction rewrite reading through this scan: one
      * merge task per (partition, bucket) group, merge machinery columns
      * kept, deletes kept below the max level (see [[GraftScan.compactionInput]]).
      */
    compactTo: Option[Int] = None,
    /** The table schema to read with; the latest when None (a lookup
      * server reads with the schema it pinned).
      */
    pinnedSchema: Option[TableSchema] = None,
    /** A compaction read that emits the changelog of its merge instead of
      * the merged rows (see [[GraftScan.changelogInput]]).
      */
    changelog: Option[ChangelogPass] = None,
    /** The clock, in epoch seconds, that record-level expiry of compaction
      * inputs reads.
      */
    nowSec: Long = System.currentTimeMillis() / 1000,
    /** RAW mode: every stored row of the files as written — no merge, -D
      * rows kept, no read-time defaults — aligned to the current schema
      * with DV masks applied. The merge machinery columns and `__bucket`
      * may be requested as data columns ([[GraftTable.rawSchema]]); every
      * pushed filter prunes files, also on a given file list.
      */
    raw: Boolean = false,
    /** A point read's wanted primary keys, normalized as
      * [[KeyFilter.norm]] does: the reader drops every other key's rows
      * before the merge (see [[GraftScan.pointRead]]).
      */
    pointKeys: Option[Set[Seq[Any]]] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning
    with SupportsReportOrdering {

  private val schema = pinnedSchema.getOrElse(table.schema)
  private def isPk = schema.isPrimaryKeyed

  /** EFFECTIVE output schema: Spark's nested schema pruning may request a
    * struct with a SUBSET of children (`person.vip` → person<nick,vip>).
    * We honor child pruning only where the field models per-child ids
    * (direct struct children, recursively); any other pruned shape
    * (array/map-of-struct pruning) falls back to the FULL declared type.
    * `readSchema()` reports exactly this schema — i.e. exactly what the
    * scan emits — so Spark projects the narrower shape on top instead of
    * mis-binding ordinals against rows wider than it was promised (a
    * silently-corrupting off-by-ordinal: `person.vip` would read `age`).
    */
  private val targetFields: Map[String, Field] = requested.fields.flatMap { rf =>
    schema.fields.find(_.name == rf.name)
      .map(tf => rf.name -> GraftScan.pruneFieldTo(tf, rf.dataType))
  }.toMap

  private val effective: StructType = StructType(requested.fields.map { rf =>
    targetFields.get(rf.name) match {
      case Some(t) => StructField(rf.name, t.sparkType, rf.nullable)
      case None => rf // metadata columns (__file_path, __row_index)
    }
  })

  /** The (possibly child-pruned) CURRENT-schema target field for an output
    * column — alignment and file-read schemas derive from this.
    */
  private def targetFieldOf(n: String): Field =
    targetFields.getOrElse(n, schema.fieldByName(n))
  // deletion-vector tables scan RAW (append-style): superseded rows are
  // masked by per-file bitmaps, so no k-way merge is needed and value
  // predicates may prune files (a mask, unlike a newer version in another
  // file, cannot be lost by skipping that file). Compaction always merges:
  // L0 -D tombstones must cancel their keys in the rewrite.
  private def mergeRead = isPk && !raw && (!schema.deletionVectors || compactTo.isDefined)

  // ---------------- reported partitioning / ordering ----------------
  // Fixed-bucket unpartitioned PK tables are physically clustered by
  // bucket(n, pk): report it as KeyGroupedPartitioning so two tables with
  // the same bucket spec JOIN WITHOUT A SHUFFLE (storage-partitioned join,
  // resolved through GraftCatalog's bucket function). Opt-in via Spark's
  // own `spark.sql.sources.v2.bucketing.enabled` because grouping splits
  // by bucket caps single-table scan parallelism at the bucket count
  // (sections within a bucket fold into one task). Dynamic-bucket tables
  // are excluded: their assignment is an index lookup, not a pure function
  // of the key. Table-partitioned tables are excluded: their clustering
  // would include the partition columns, which defeats pk-equijoin
  // compatibility.
  // NOTE: Spark 4 registers this conf's DEFAULT as true, but an UNSET conf
  // deliberately reads false here (opt-in): reporting KeyGroupedPartitioning
  // unconditionally would cap every single-table PK scan at bucket-count
  // tasks even when no join benefits. Tests/benchmarks that save-and-restore
  // the conf turn the registered default into an explicit "true" — that
  // explicit value is honored, which is why the session catalog must also
  // resolve the bucket function (GraftSessionCatalog.loadFunction).
  // Bucketed APPEND tables qualify too (reference: HASH_FIXED on the
  // append store): their files are hash-clustered by bucket(n, bucket-key)
  // exactly like fixed-bucket PK tables, minus the merge.
  private def spjEligible: Boolean =
    ((mergeRead && !schema.crossPartition && !schema.dynamicBucket) ||
      schema.appendBucketed) &&
      schema.partitionKeys.isEmpty &&
      spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (spjEligible) {
      val buckets = effectiveFiles.map(_.bucket).distinct.size
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(
          schema.numBuckets, schema.bucketKeys: _*)), math.max(buckets, 1))
    } else new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)

  // every merge split (and every single-file compacted split) emits rows
  // sorted by the full primary key — report it so Catalyst elides sorts
  // (e.g. the two sort nodes under a pk sort-merge join). Only when the pk
  // columns survive column pruning: Spark resolves the named references
  // against the scan output.
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    // dv tables bin-pack several raw files per split -> no global pk order
    if (mergeRead && schema.primaryKeys.forall(requested.fieldNames.contains))
      schema.primaryKeys.toArray.map { k =>
        org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions.column(k),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
      }
    else Array.empty

  // ---------------- runtime filtering (DPP) ----------------
  // Join-driven partition pruning (reference: PaimonScan.scala:39-51):
  // Spark evaluates the join's build side, converts the matched partition
  // values to In-filters on the declared attributes, and calls filter()
  // before planInputPartitions — star-join shapes then scan only matching
  // partitions. Cross-partition tables cannot prune pre-merge (a key may
  // have moved partitions), so they declare no filterable attributes.
  // Spark resolves the attributes against the scan output, so only the
  // partition keys that survived column pruning are declared.

  private var runtimeSelected: Option[Seq[DataFileMeta]] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (schema.crossPartition) Array.empty
    else schema.partitionKeys.filter(requested.fieldNames.contains).map(
      org.apache.spark.sql.connector.expressions.Expressions.column).toArray

  override def filter(runtimeFilters: Array[Filter]): Unit = {
    val partKeys = schema.partitionKeys
    val typeOf: String => Option[DataType] =
      n => schema.fields.find(_.name == n).map(_.sparkType)
    val applicable = runtimeFilters.filter(f =>
      f.references.nonEmpty && f.references.forall(partKeys.contains))
    if (applicable.nonEmpty) {
      val keep = Pruning.partitionKeep(applicable.toSeq, partKeys, typeOf)
      runtimeSelected = Some(prunedFiles.filter(f => keep(f.partition)))
    }
  }

  /** Files after static pruning AND any runtime (join-driven) filter. */
  private def effectiveFiles: Seq[DataFileMeta] =
    runtimeSelected.getOrElse(prunedFiles)

  override def readSchema(): StructType = effective

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(spark, table, requested, readOptions)

  /** Planning-time stats for Catalyst CBO (join reorder / broadcast
    * decisions — reference: PaimonStatistics.scala:35-50): size from pruned
    * file metadata, row count from the snapshot when nothing was pruned,
    * and per-column NDV/nullCount/bounds from the last ANALYZE
    * (`CALL sys.analyze`) so filter-selectivity estimation can shrink a
    * join side below the broadcast threshold.
    */
  /** The last ANALYZE's statistics, read once per scan. */
  private lazy val analyzeStats = table.store.readColStats()

  override def estimateStatistics(): Statistics = new Statistics {
    private val sumLive = prunedFiles.map(_.liveRowCount).sum
    // POST-MERGE row estimate for PK tables: summing liveRowCount over
    // un-merged runs double-counts every updated key, so a hot PK table
    // reports up to runs× its true cardinality — enough to push a
    // broadcastable join side over the threshold. Rows in key-DISJOINT
    // sections (IntervalSections) add exactly; within an overlapping
    // section the merged count lies in [max file, sum] — estimate
    // max + α·rest. α=0.2 only when the section has a fully-compacted
    // base AND the overlapping rows are at most ~2× it (churn shape:
    // mostly updates of existing keys); with a base but growth-dominated,
    // α=0.5 splits the difference; with NO compacted base at all the
    // overlap is typically insert-dominated (fresh L0 runs), so α=1
    // (plain sum) — underestimates are the dangerous direction, since
    // they can broadcast an oversized dim into executor OOM, while an
    // overestimate merely costs a shuffle.
    // A current-snapshot ANALYZE rowCount (exact post-merge) overrides
    // the heuristic on unfiltered scans.
    private val rows: Long =
      if (!mergeRead) sumLive
      else {
        val analyzed =
          if (filters.nonEmpty || filesOverride.isDefined) None
          else analyzeStats
            .filter(st => snapshot.orElse(table.store.latestSnapshot)
              .exists(_.id == st.snapshotId))
            .map(_.rowCount)
        analyzed.getOrElse {
          mergeSections(prunedFiles).map { sec =>
            val counts = sec.map(_.liveRowCount)
            val mx = counts.max
            val rest = counts.sum - mx
            val alpha =
              if (!sec.exists(_.level >= GraftTable.MaxLevel)) 1.0
              else if (rest <= 2 * mx) 0.2
              else 0.5
            mx + math.round(alpha * rest)
          }.sum
        }
      }
    // scale bytes by the same post-merge ratio: Spark's broadcast decision
    // reads sizeInBytes, and the merged read emits est/sum of the raw rows
    private val bytes = {
      val raw = prunedFiles.map(_.size).sum
      if (!mergeRead || sumLive == 0) raw
      else math.round(raw * (rows.toDouble / sumLive))
    }
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(bytes, 1L))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows)
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      analyzeStats.foreach { st =>
        st.cols.foreach { case (name, c) =>
          if (requested.fieldNames.contains(name)) {
            val dt = requested(name).dataType
            val mkMin = c.min.flatMap(GraftScan.statInternal(dt, _))
            val mkMax = c.max.flatMap(GraftScan.statInternal(dt, _))
            m.put(org.apache.spark.sql.connector.expressions.Expressions.column(name),
              new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                override def distinctCount(): java.util.OptionalLong =
                  java.util.OptionalLong.of(c.ndv)
                override def nullCount(): java.util.OptionalLong =
                  java.util.OptionalLong.of(c.nullCount)
                override def min(): java.util.Optional[Object] =
                  mkMin.map(java.util.Optional.of[Object]).getOrElse(java.util.Optional.empty())
                override def max(): java.util.Optional[Object] =
                  mkMax.map(java.util.Optional.of[Object]).getOrElse(java.util.Optional.empty())
                override def avgLen(): java.util.OptionalLong =
                  c.avgLen.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
                override def maxLen(): java.util.OptionalLong =
                  c.maxLen.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
              })
          }
        }
      }
      m
    }
  }

  override def description(): String =
    s"GraftScan ${table.location} [${requested.fieldNames.mkString(",")}]" +
      (if (filters.nonEmpty) s" filters=${filters.mkString(",")}" else "")

  // ---------------- scan metrics (Spark UI observability) ----------------
  // Reference: PaimonMetrics.scala:26-156 — pruning effectiveness surfaces
  // as driver metrics on the scan node: how many files the manifests held,
  // how many survived pruning, how many splits were planned. At 100 TB
  // "why is this query slow" starts with these three numbers.

  @volatile private var metricCandidateFiles = -1L
  @volatile private var metricPlannedSplits = -1L

  // each metric is a TOP-LEVEL class with a zero-arg constructor: Spark
  // re-instantiates CustomMetric classes reflectively on the driver to
  // aggregate task values — an anonymous class fails that lookup and the
  // metric silently never aggregates (logged SparkException per query)
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] = Array(
    new NumSplitsMetric, new SkippedFilesMetric, new ResultedFilesMetric)

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    def m(n: String, v: Long) = new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = n
      override def value(): Long = v
    }
    val resulted = effectiveFiles.size.toLong
    val skipped = math.max(metricCandidateFiles - resulted, 0L)
    Array(m("numSplits", math.max(metricPlannedSplits, 0L)),
      m("skippedTableFiles", skipped),
      m("resultedTableFiles", resulted))
  }

  // ---------------- planning ----------------

  private lazy val prunedFiles: Seq[DataFileMeta] = {
    val snap = if (filesOverride.isDefined) None else snapshot.orElse(table.store.latestSnapshot)
    if (filesOverride.isEmpty && snap.isEmpty) Nil
    else {
      val typeOf: String => Option[DataType] =
        schema.fields.map(f => f.name -> f.sparkType).toMap.get
      val partKeys = schema.partitionKeys
      // pre-merge file pruning on a PK table may only use KEY-determined
      // columns — a value-column predicate could drop the file holding a
      // key's NEWEST version and resurrect a stale one (reference:
      // KeyValueFileStoreScan filters by key stats only, :48-116). In
      // cross-partition mode a key can move partitions, so even partition
      // predicates cannot prune pre-merge.
      val partFilters =
        if (schema.crossPartition && !raw) Nil
        else filters.filter(f =>
          f.references.nonEmpty && f.references.forall(partKeys.contains))
      val pruningFilters =
        if (!mergeRead) filters
        else filters.filter(_.references.forall(r =>
          schema.primaryKeys.contains(r) ||
            (!schema.crossPartition && partKeys.contains(r))))
      val bucketKeep = GraftFileIndex.bucketPruner(table.store, schema, filters)
      val indexFiles = snap.map(_.indexFiles).getOrElse(Nil)
      // dynamic-bucket point lookups prune through the durable hash index
      val dynKeep: DataFileMeta => Boolean =
        GraftFileIndex.dynamicBuckets(
            table.spark, table.store, schema, indexFiles, filters, table.readShapes)
          .map(bs => (f: DataFileMeta) => bs.contains(f.bucket))
          .getOrElse(_ => true)
      // cross-partition point lookups prune to the key's indexed
      // partitions through the global pk index (key-determined, so legal
      // pre-merge even though value/partition predicates are not)
      val xpKeep: DataFileMeta => Boolean =
        GraftFileIndex.crossPartitionGroups(
            table.spark, table.store, schema, indexFiles, filters, table.readShapes)
          .map(gs => (f: DataFileMeta) =>
            gs.contains((graft.table.GraftTable.encodePartition(f.partition), f.bucket)))
          .getOrElse(_ => true)
      // compiled/memoized predicate evaluation: partition predicates once
      // per distinct tuple, stats predicates with types + literals
      // pre-resolved (per-file interpretation measured 13.7 s pruned /
      // 8.5 s stats on a 1M-file plan)
      val compiled = pruningFilters.map(p => Pruning.compileMight(p, typeOf))
      // stats are keyed by the names of the schema a file was written
      // under: other schemas' stats are read through field ids
      val names = new GraftFileIndex.StoredNames(table.store, schema)
      val candidates = filesOverride.getOrElse {
        val s = snap.get
        // manifest-shard skipping: folded shards whose recorded partition
        // range OR column-stat ranges cannot match are never parsed; the
        // stats test reuses the compiled per-file evaluator over the
        // shard's folded ColStats (min of mins, max of maxes, summed nulls)
        val listed = table.store.liveFiles(s, meta => {
          val partOk = (meta.ptMin, meta.ptMax) match {
            case (Some(lo), Some(hi)) =>
              partFilters.forall(p => Pruning.shardMightMatch(p, partKeys, lo, hi))
            case _ => true
          }
          partOk && (meta.colStats.isEmpty || {
            val st = names.stats(meta.schemaIds.toSet, meta.colStats)
            compiled.forall(_(st, meta.rowCount))
          })
        })
        // skipped-file metric base: when every shard is add-only the
        // snapshot's total live-file count is known WITHOUT parsing the
        // shard-pruned manifests, so shard skipping itself counts as
        // skipped files; otherwise fall back to the listed candidates
        // (conservative undercount, never a manifest re-read)
        metricCandidateFiles =
          if (s.manifestMeta.nonEmpty && s.manifestMeta.forall(_.addOnly))
            s.manifestMeta.map(_.entries).sum
          else listed.size
        listed
      }
      if (filesOverride.isDefined) metricCandidateFiles = candidates.size
      val partKeep = Pruning.partitionKeep(partFilters, partKeys, typeOf)
      val selected =
        if (filters.isEmpty) candidates
        else candidates.filter { f =>
          partKeep(f.partition) &&
          bucketKeep(f) && dynKeep(f) && xpKeep(f) &&
          compiled.forall(_(
            if (f.schemaId == schema.id) f.stats else names.stats(Set(f.schemaId), f.stats),
            f.rowCount)) &&
          GraftFileIndex.bloomMightMatch(table.store, schema, f, pruningFilters, names)
        }
      limit match {
        // limit pushdown (reference: DataTableBatchScan.applyPushDownLimit
        // :64-85): once enough LIVE rows are planned, stop adding files;
        // only safe when nothing is filtered or merged away. liveRowCount
        // (not rowCount) — the reader drops DV-deleted rows, so counting
        // raw rows could under-deliver LIMIT n.
        case Some(n) if filters.isEmpty && (!isPk || raw) =>
          val acc = mutable.ArrayBuffer.empty[DataFileMeta]
          var rows = 0L
          selected.iterator.takeWhile(_ => rows < n).foreach { f =>
            acc += f; rows += f.liveRowCount
          }
          acc.toSeq
        case _ => selected
      }
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = planInputPartitions0()
    metricPlannedSplits = parts.length
    parts
  }

  private def planInputPartitions0(): Array[InputPartition] = {
    def info(f: DataFileMeta) = GraftFileInfo(
      f.path, f.size, f.partition, f.bucket, f.level, f.schemaId, f.rowCount,
      f.dvPath)

    if (!mergeRead) {
      // append table (or dv-mode pk table): bin-pack raw files into
      // ~target-size splits per partition. Each file weighs at least
      // open-file-cost so a split of many tiny files stays small enough to
      // amortize per-file open/footer latency (reference: CoreOptions
      // "source.split.target-size" 128mb / "source.split.open-file-cost"
      // 4mb, FlinkSourceBuilder → BinPacking weight function)
      // The split size shrinks to spread the scan over every core, as
      // Spark's FilePartition.maxSplitBytes does: a small table still
      // plans about one split per core instead of one for the lot.
      val openCost = TableSchema.parseBytes(
        schema.option("source.split.open-file-cost", "4mb"))
      val bytesPerCore = effectiveFiles.map(_.size + openCost).sum /
        math.max(1, spark.sparkContext.defaultParallelism)
      val target = math.min(
        TableSchema.parseBytes(schema.option("source.split.target-size", "128mb")),
        math.max(openCost, bytesPerCore))
      // 'scan.plan-sort-partition': emit splits in partition-value order so
      // a consumer that processes tasks in order sees partitions whole
      // (reference: CoreOptions "scan.plan-sort-partition",
      // SnapshotReaderImpl's partition-sorted plan)
      val sortParts = schema.option("scan.plan-sort-partition", "false").toBoolean
      // under SPJ, splits must also group by bucket so each split carries
      // one partition key (spjEligible implies no table partitions, so the
      // extra grouping is a no-op otherwise)
      val spj = spjEligible
      val groups = effectiveFiles.groupBy(f =>
        (f.partition, if (spj) f.bucket else 0)).toSeq
        .map { case ((pt, _), fs) => (pt, fs) }
      // order by TYPED partition values (reference's typed partition
      // comparator): numeric/date components compare by value ("2" before
      // "10"), nulls first, unparseable components fall back to the path
      // string so the ordering is still total
      lazy val partTypes = schema.partitionKeys.map(k => schema.fieldByName(k).sparkType)
      def cmpComponent(dt: DataType, x: String, y: String): Int =
        if (x == PartitionPathUtils.NullPartitionValue ||
            y == PartitionPathUtils.NullPartitionValue) {
          (x == PartitionPathUtils.NullPartitionValue)
            .compareTo(y == PartitionPathUtils.NullPartitionValue) * -1
        } else (StatsCodec.partitionComparable(dt, x),
            StatsCodec.partitionComparable(dt, y)) match {
          case (Some(a), Some(b)) => a.compareTo(b)
          case _ => x.compareTo(y)
        }
      val ordered = if (sortParts) groups.sortWith { case ((a, _), (b, _)) =>
        val it = partTypes.iterator.zip(a.iterator.zip(b.iterator))
        var c = 0
        while (c == 0 && it.hasNext) {
          val (dt, (x, y)) = it.next(); c = cmpComponent(dt, x, y)
        }
        if (c == 0) a.size < b.size else c < 0
      } else groups
      ordered.flatMap { case (_, fs) =>
        val packs = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[GraftFileInfo]]
        var cur = mutable.ArrayBuffer.empty[GraftFileInfo]
        var curBytes = 0L
        fs.sortBy(-_.size).foreach { f =>
          val w = math.max(f.size, openCost)
          if (curBytes > 0 && curBytes + w > target) {
            packs += cur; cur = mutable.ArrayBuffer.empty; curBytes = 0
          }
          cur += info(f); curBytes += w
        }
        if (cur.nonEmpty) packs += cur
        packs.map { p =>
          val keyRow = if (spj)
            new GenericInternalRow(Array[Any](p.head.bucket)) else null
          GraftInputPartition(p.toSeq, merge = false, keyRow)
        }
      }.toArray
    } else if (compactTo.isDefined) {
      // compaction: ONE task per (partition, bucket) group merges all of
      // the group's files in key order (its key-disjoint sections drain
      // through the same heap one after another), so the rewrite writes
      // exactly one file per group and needs no exchange
      bucketGroups(effectiveFiles).map(fs =>
        GraftInputPartition(fs.map(info), merge = true)).toArray
    } else {
      // interval partitioning: key-disjoint file groups within the bucket
      // become INDEPENDENT merge splits, so a hot bucket with many
      // non-overlapping runs parallelizes instead of merging in one task
      // (reference: MergeTreeSplitGenerator.splitForBatch:69,
      // IntervalPartition.partition():67). Computed FRESH per planning
      // cycle — runtime (DPP) filtering can shrink effectiveFiles between
      // calls, so sections must not be cached here.
      mergeSections(effectiveFiles).map { sec =>
        // a single fully-compacted file needs no merge → vectorized raw read
        val raw = sec.size == 1 && sec.head.level >= GraftTable.MaxLevel
        val keyRow = if (spjEligible)
          new GenericInternalRow(Array[Any](sec.head.bucket)) else null
        GraftInputPartition(sec.map(info), merge = !raw, keyRow)
      }.toArray
    }
  }

  /** Key-disjoint merge sections of `files`, per (partition-or-∅, bucket)
    * group — the shared decomposition behind merge-split planning, the
    * all-raw (read-optimized) check, and the post-merge row estimate.
    * Deliberately NOT cached: callers sit on both sides of the runtime-
    * filtering boundary, and a section set captured pre-DPP must not leak
    * into post-DPP planning (shrinking the file set only drops or shrinks
    * sections, so the pre-DPP all-raw/estimate uses stay conservative).
    */
  private def mergeSections(files: Seq[DataFileMeta]): Seq[Seq[DataFileMeta]] =
    bucketGroups(files).flatMap(fs => IntervalSections.of(schema, fs))

  /** Files per (partition, bucket) group — per bucket on cross-partition
    * tables, where a key may live in any partition of its bucket.
    */
  private def bucketGroups(files: Seq[DataFileMeta]): Seq[Seq[DataFileMeta]] = {
    val grouped =
      if (schema.crossPartition) files.groupBy(f => (Seq.empty[String], f.bucket))
      else files.groupBy(f => (f.partition, f.bucket))
    grouped.values.toSeq
  }

  /** READ-OPTIMIZED detection: a merge-read scan whose every bucket section
    * is a single fully-compacted file plans only raw splits — no merge can
    * occur, max-level files carry no -D tombstones (full compaction drops
    * deletes and rewrites kinds to +I), and every row IS its key's final
    * state. Such a scan drops the merge machinery columns, regains FULL
    * parquet filter pushdown (a value predicate cannot lose a newer
    * version — there is none), and qualifies for the columnar handoff:
    * the "read-optimized table" fast path of a compacted lakehouse.
    */
  private lazy val allRawMergeScan: Boolean = mergeRead && compactTo.isEmpty &&
    mergeSections(prunedFiles).forall(sec =>
      sec.size == 1 && sec.head.level >= GraftTable.MaxLevel)

  /** Built once per scan: physical planning asks for the factory more than
    * once. The format readers' Hadoop confs come from the table handle's
    * per-shape broadcasts ([[ReadShapes]]), so a scan of a shape the handle
    * has read before broadcasts nothing. The plans cover the statically
    * pruned files; runtime filtering only shrinks that set.
    */
  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  private lazy val readerFactory: PartitionReaderFactory = {
    val partitionSchema = table.partitionSchema(schema)
    val wantsFilePath = requested.fieldNames.contains(GraftSparkTable.FilePathCol)
    val wantsRowIndex = requested.fieldNames.contains(GraftSparkTable.RowIndexCol)
    require(!((wantsFilePath || wantsRowIndex) && mergeRead),
      s"${GraftSparkTable.FilePathCol}/${GraftSparkTable.RowIndexCol} are defined on raw " +
        "scans only (a merged row spans several files); use the files system table instead")
    val effectiveMerge = mergeRead && !allRawMergeScan
    // columns the reader must materialize: requested data cols, plus merge
    // machinery columns for PK tables (none for an all-raw compacted scan)
    val neededNames: Seq[String] = {
      val base = requested.fieldNames.toSeq
        .filterNot(n => n == GraftSparkTable.FilePathCol || n == GraftSparkTable.RowIndexCol)
      if (effectiveMerge) {
        val meta = Seq(GraftMeta.SeqCol, GraftMeta.PosCol, GraftMeta.KindCol)
        (base ++ schema.primaryKeys ++ schema.sequenceField.toSeq ++
          seqGroupCols ++ meta).distinct
      } else if (isPk && !mergeRead && !raw)
        (base :+ GraftMeta.KindCol).distinct // dv: -D tombstone filter
      else base
    }
    val dirNames = partitionSchema.fieldNames.toSet
    val physical = table.physicalDataSchema(schema)
    val readNames = neededNames.filterNot(dirNames.contains)
      .filter(n => physical.fieldNames.contains(n))

    // uniform executor row layout: read cols ++ partition cols
    // (+ the per-file path appended by the reader when requested).
    // Columns in the effective output carry their (possibly child-pruned)
    // target type; merge-machinery extras keep the physical type.
    val rowSchema = StructType(
      readNames.map { n =>
        val base = physical(physical.fieldIndex(n))
        if (effective.fieldNames.contains(n) && schema.fields.exists(_.name == n))
          base.copy(dataType = targetFieldOf(n).sparkType)
        else base
      } ++ partitionSchema.fields ++
        (if (wantsFilePath)
          Seq(StructField(GraftSparkTable.FilePathCol, StringType, nullable = false))
        else Nil) ++
        (if (wantsRowIndex)
          Seq(StructField(GraftSparkTable.RowIndexCol, LongType, nullable = false))
        else Nil))

    // per-(schema-version, has-dv, file-format) read plans (field-id remap,
    // reference: SchemaEvolutionUtil.createDataProjection:266). DV presence
    // is part of the KEY: only DV'd files give up parquet filter pushdown
    // (their row positions must stay dense); every DV-free file keeps
    // row-group skipping even when it shares the scan with DV'd ones. The
    // format is derived from each file's extension (None → the schema's
    // format) so `file.format.per.level` mixes plan correctly.
    val planKeys = prunedFiles
      .map(f => (f.schemaId, f.dvPath.isDefined, GraftTable.formatNameOfPath(f.path)))
      .distinct.sorted
    // the session's SQL conf, as of this scan: part of each read shape, and
    // what the readers are built with (also inside tasks)
    val sqlConfs = spark.sessionState.conf.getAllConfs
    val plans: Map[(Long, Boolean, Option[String]), SchemaReadPlan] =
      planKeys.map { case (sid, hasDv, fmtName) =>
      val fileSchema = if (sid == schema.id) schema else table.store.readSchema(sid)
      val fmt = GraftTable.fileFormatFor(fmtName.getOrElse(fileSchema.fileFormat))
      val byId = fileSchema.fields.map(f => f.id -> f).toMap
      // what to read from files of this schema version, in rowSchema order
      val wanted = readNames.map { n =>
        if (n == GraftMeta.SeqCol || n == GraftMeta.PosCol || n == GraftMeta.KindCol)
          Some(Field(-1, n, physical(physical.fieldIndex(n)).dataType.sql,
            nullable = false))
        else {
          val target = targetFieldOf(n)
          byId.get(target.id) match {
            // the file-side field prunes to the target's child-id set, so
            // parquet materializes only the requested nested columns
            case Some(old) if !dirNames.contains(old.name) =>
              Some(GraftScan.pruneByTargetIds(old, target))
            case _ => None
          }
        }
      }
      val readSchemaForFile = StructType(wanted.flatten.map(f =>
        StructField(f.name, f.sparkType, f.nullable)))
      // with a deletion vector (or the __row_index metadata column), parquet
      // must yield every row IN ORDER so the iterator index equals the file
      // row position — no filter pushdown
      val safeFilters =
        if (hasDv || wantsRowIndex || sid != schema.id) Nil
        // full pushdown applies wherever no newer version can be lost:
        //  - non-PK scans (trivially),
        //  - all-raw compacted scans (no merge — the row IS the final
        //    state),
        //  - DV-free files of a deletion-vector table (a superseded row
        //    is always masked in ITS OWN file's bitmap, so a DV-free file
        //    holds only live rows and -D tombstones, which the kind
        //    filter drops either way).
        // Only genuinely-merging scans restrict to key/partition filters.
        else if (mergeRead && !allRawMergeScan) filters.filter(f => f.references.forall(r =>
          schema.primaryKeys.contains(r) || dirNames.contains(r)))
        else filters
      val supportsBatch = fmt.supportBatch(spark,
        StructType(readSchemaForFile.fields ++ partitionSchema.fields))
      val dataSchema = StructType(fileSchema.fields
        .filterNot(f => fileSchema.partitionKeys.contains(f.name))
        .map(_.toStructField) ++
        (if (fileSchema.isPrimaryKeyed)
          Seq(GraftMeta.seqField, GraftMeta.posField, GraftMeta.kindField)
        else Nil))
      val read: FileRead = fmt match {
        case _: graft.formats.GraftAvroFileFormat =>
          FormatRead(fmt.buildReaderWithPartitionValues(spark, dataSchema, partitionSchema,
            readSchemaForFile, safeFilters, Map(org.apache.spark.sql.execution.datasources
              .FileFormat.OPTION_RETURNING_BATCH -> supportsBatch.toString),
            spark.sessionState.newHadoopConf()))
        case _ =>
          val name = if (fmt.isInstanceOf[graft.formats.GraftOrcFileFormat]) "orc" else "parquet"
          // ORC's own search arguments misjudge some filters
          val pushed =
            if (name == "parquet") safeFilters
            else safeFilters.filter(graft.formats.GraftOrcFileFormat.orcDecides(dataSchema, _))
          FactoryRead(name, table.readShapes.conf(spark, name, readSchemaForFile, sqlConfs),
            dataSchema, readSchemaForFile, partitionSchema, pushed.toArray, supportsBatch)
      }
      // align (readSchemaForFile ++ partitionSchema) → rowSchema (the
      // per-file path column, when present, is appended by the reader)
      val inSchema = StructType(readSchemaForFile.fields ++ partitionSchema.fields)
      val align: Seq[Expression] = rowSchema.fields.toSeq
        .filterNot(f => f.name == GraftSparkTable.FilePathCol ||
          f.name == GraftSparkTable.RowIndexCol)
        .map { out =>
        if (dirNames.contains(out.name)) {
          val i = inSchema.fieldIndex(out.name)
          BoundReference(i, inSchema(i).dataType, nullable = true)
        } else {
          val posInWanted = readNames.indexOf(out.name)
          wanted(posInWanted) match {
            case Some(old) =>
              val i = readSchemaForFile.fieldIndex(old.name)
              val ref = BoundReference(i, readSchemaForFile(i).dataType, nullable = true)
              if (readSchemaForFile(i).dataType == out.dataType) ref
              else if (old.id >= 0)
                GraftScan.alignFieldExpr(ref, old, targetFieldOf(out.name))
              else Cast(ref, out.dataType, Some(java.util.TimeZone.getDefault.getID))
            case None => Literal.create(null, out.dataType)
          }
        }
      }
      // identity align = the batch's columns (readSchemaForFile ++
      // partitionSchema) already ARE rowSchema, position for position —
      // the precondition for handing the ColumnarBatch through untouched
      val identityAlign = align.size == inSchema.size &&
        align.zipWithIndex.forall {
          case (BoundReference(j, _, _), i) => j == i
          case _ => false
        }
      (sid, hasDv, fmtName) -> SchemaReadPlan(read, align, supportsBatch, identityAlign)
    }.toMap

    val merger =
      if (effectiveMerge) Some(new RowMerger(schema, rowSchema, requested.fieldNames.toSeq,
        dropDeletes = compactTo.forall(_ >= GraftTable.MaxLevel)))
      else None
    // dv-mode raw reads drop -D tombstones by the kind byte
    val dropKindIdx: Option[Int] =
      if (isPk && !mergeRead && !raw) Some(rowSchema.fieldIndex(GraftMeta.KindCol)) else None
    // raw output projection: rowSchema position of each requested column
    val outIdx = requested.fieldNames.map(n => rowSchema.fieldIndex(n))
    // read-time default values, applied post-merge (reference:
    // DefaultValueAssigner.java:48) — never baked into a rewrite: raw
    // scans feed compaction, COW rewrites and changelog reads
    val defaultsExprs: Option[Seq[Expression]] =
      if (compactTo.isDefined || raw ||
          !requested.fieldNames.exists(n => schema.defaultValueOf(n).isDefined)) None
      else Some(effective.fields.toSeq.zipWithIndex.map { case (f, i) =>
        val ref = BoundReference(i, f.dataType, nullable = true)
        schema.defaultValueOf(f.name) match {
          case Some(d) =>
            val v = Cast(Literal.create(d), f.dataType,
              Some(java.util.TimeZone.getDefault.getID)).eval(null)
            org.apache.spark.sql.catalyst.expressions.Coalesce(
              Seq(ref, Literal.create(v, f.dataType)))
          case None => ref
        }
      })
    // COLUMNAR handoff (scan-level, all-or-nothing — Spark rejects a scan
    // mixing row and columnar partitions): raw append splits whose every
    // plan is vectorized AND an identity align pass the parquet/ORC
    // ColumnarBatch straight through to Catalyst's columnar pipeline,
    // skipping the per-row flatten + UnsafeProjection tax on the hottest
    // path (full/filtered scans of append tables). Anything needing
    // per-row work — merge, DV masks, kind tombstones, evolution remaps,
    // defaults, metadata columns — falls back to the row path.
    val columnar = !effectiveMerge && dropKindIdx.isEmpty && defaultsExprs.isEmpty &&
      !wantsFilePath && !wantsRowIndex &&
      plans.nonEmpty && plans.values.forall(p => p.batched && p.identityAlign) &&
      prunedFiles.forall(_.dvPath.isEmpty)
    // record-level TTL on compaction inputs (reference:
    // io/RecordLevelExpire.java:79-91 wraps each compaction file reader):
    // rows expire BEFORE the merge, so an expired newer version lets an
    // older live version win; plain reads never expire rows
    val expiry = compactTo.flatMap(_ => schema.recordLevelExpire).map { case (tf, sec) =>
      val i = rowSchema.fieldIndex(tf)
      RecordExpiry(i, rowSchema(i).dataType, tf, nowSec - sec)
    }
    // deletion-vector files are read with the Hadoop conf of a DV file's
    // plan (a shared broadcast), or for Avro with the plain session conf
    val dvConf = plans.collectFirst { case ((_, true, _), p) => p.read }.map {
      case r: FactoryRead => r.conf
      case _ => table.readShapes.conf(spark, "hadoop", new StructType(), sqlConfs)
    }
    val keyFilter = pointKeys.map(KeyFilter(schema.primaryKeys.map(rowSchema.fieldIndex), _))
    new GraftReaderFactory(table.location, partitionSchema, rowSchema,
      plans, merger, outIdx, defaultsExprs, dvConf, sqlConfs, spark.sessionState.conf,
      dropKindIdx, columnar, expiry, changelog, keyFilter)
  }

  /** The planned rows outside a DSv2 relation: one Spark task per planned
    * partition, each read through the row reader.
    */
  def rowsRDD: org.apache.spark.rdd.RDD[InternalRow] = {
    val parts = planInputPartitions()
    val factory = createReaderFactory()
    spark.sparkContext
      .parallelize(parts.toSeq, math.max(parts.length, 1))
      .mapPartitions(_.flatMap { p =>
        val reader = factory.createReader(p)
        org.apache.spark.TaskContext.get()
          .addTaskCompletionListener[Unit](_ => reader.close())
        Iterator.continually(reader).takeWhile(_.next()).map(_.get())
      })
  }

  private def seqGroupCols: Seq[String] = schema.options.keys.collect {
    case k if k.startsWith("fields.") && k.endsWith(".sequence-group") =>
      k.stripPrefix("fields.").stripSuffix(".sequence-group")
  }.toSeq
}

/** Record-level expiry of compaction input rows: a row lives while its
  * seconds-epoch time field is at or above `minSec`; a null time value is
  * an error, as in the reference's checkArgument.
  */
case class RecordExpiry(field: Int, dataType: DataType, name: String, minSec: Long) {
  def keep(r: InternalRow): Boolean = {
    if (r.isNullAt(field)) throw new IllegalArgumentException(
      s"Time field '$name' for record-level expire should not be null.")
    r.get(field, dataType).asInstanceOf[Number].longValue >= minSec
  }
}

/** A changelog pass through the compaction reader: the paths of the
  * pre-image files among the scan's files, whether their rows are compared
  * as stored or merged, and the commit sequence the rows carry (see
  * [[graft.merge.ChangelogMergeRows]]).
  */
case class ChangelogPass(preImage: Set[String], storedPreImage: Boolean, seq: Long)

/** Serializable per-schema-version read plan. */
case class SchemaReadPlan(
    read: FileRead,
    align: Seq[Expression],
    batched: Boolean,
    identityAlign: Boolean = false) extends Serializable

/** The primary keys a point read wants, at `cols` of the reader's row
  * schema, each normalized by [[KeyFilter.norm]].
  */
case class KeyFilter(cols: Seq[Int], keys: Set[Seq[Any]])

object KeyFilter {
  /** A key value as Spark's equality compares it: -0.0 = 0.0, binary by
    * content.
    */
  def norm(v: Any): Any = v match {
    case d: Double if d == 0.0d => 0.0d
    case f: Float if f == 0.0f => 0.0f
    case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
    case other => other
  }
}

case class GraftFileInfo(
    path: String, length: Long, partition: Seq[String], bucket: Int,
    level: Int, schemaId: Long, rowCount: Long,
    dvPath: Option[String] = None) extends Serializable

/** `keyRow` is the KeyGroupedPartitioning key ([bucket id]) — only set
  * (and only read by Spark) when the scan reports bucket partitioning.
  */
case class GraftInputPartition(files: Seq[GraftFileInfo], merge: Boolean,
    keyRow: InternalRow = null)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = keyRow
}

class GraftReaderFactory(
    tableRoot: String,
    partitionSchema: StructType,
    rowSchema: StructType,
    plans: Map[(Long, Boolean, Option[String]), SchemaReadPlan],
    merger: Option[RowMerger],
    outIdx: Seq[Int],
    defaultsExprs: Option[Seq[Expression]],
    dvConf: Option[Broadcast[SerializableConfiguration]],
    sqlConfs: Map[String, String],
    /** The session's live conf, for reads in the planning JVM's own
      * factory instance; a deserialized factory rebuilds it from `sqlConfs`.
      */
    @transient sessionConf: SQLConf,
    dropKindIdx: Option[Int] = None,
    columnar: Boolean = false,
    expiry: Option[RecordExpiry] = None,
    changelog: Option[ChangelogPass] = None,
    /** Point read: rows of other keys are dropped as read, before the
      * merge, evaluating the key through each file's alignment.
      */
    keyFilter: Option[KeyFilter] = None)
    extends PartitionReaderFactory {

  @transient private lazy val sqlConf: SQLConf =
    Option(sessionConf).getOrElse(FileReads.sqlConf(sqlConfs))

  // scan-level, not per-partition: Spark requires every partition of a
  // scan to agree (mixed row/columnar readers fail the physical plan)
  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  /** Vectorized pass-through: the format reader's ColumnarBatch (columns =
    * readSchemaForFile ++ partitionSchema = rowSchema, by the identityAlign
    * precondition) flows to Catalyst's columnar pipeline as-is; a requested
    * column order differing from rowSchema is a zero-copy column-vector
    * permutation. The per-row flatten + UnsafeProjection of the row path —
    * a pure CPU constant-factor tax at 100 TB — never runs.
    */
  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    val identityOut = outIdx == rowSchema.indices
    val files = new OpenFiles
    val batches: Iterator[ColumnarBatch] = p.files.iterator.flatMap { f =>
      files.open(f).map {
        case b: ColumnarBatch =>
          if (identityOut) b
          else new ColumnarBatch(outIdx.map(b.column).toArray, b.numRows())
        case other => throw new IllegalStateException(
          s"columnar scan expected ColumnarBatch, got ${other.getClass}")
      }
    }
    new PartitionReader[ColumnarBatch] {
      private var current: ColumnarBatch = _
      override def next(): Boolean =
        if (batches.hasNext) { current = batches.next(); true } else false
      override def get(): ColumnarBatch = current
      override def close(): Unit = files.close()
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    val files = new OpenFiles

    def rowsOf(f: GraftFileInfo): Iterator[InternalRow] = {
      val plan = planOf(f)
      val raw = files.open(f).flatMap {
        case b: ColumnarBatch => b.rowIterator().asScala
        case r: InternalRow => Iterator.single(r)
      }
      val proj = UnsafeProjection.create(plan.align.toArray)
      val hasPath = rowSchema.fieldNames.contains(GraftSparkTable.FilePathCol)
      val hasIdx = rowSchema.fieldNames.contains(GraftSparkTable.RowIndexCol)
      // a point read's key test on the raw file row, through the file's
      // alignment to the read schema
      val wanted: InternalRow => Boolean = keyFilter match {
        case Some(KeyFilter(cols, keys)) =>
          val exprs = cols.map(plan.align).toArray
          r => keys.contains(exprs.iterator.map(e => KeyFilter.norm(e.eval(r))).toSeq)
        case None => _ => true
      }
      if (!hasIdx) {
        // apply the deletion bitmap by raw row position (the plan was built
        // without filter pushdown when DVs are present, so the iterator index
        // IS the file row index — reference: ApplyDeletionVectorReader)
        val undeleted = f.dvPath match {
          case Some(dv) =>
            val bm = readDv(dv)
            raw.zipWithIndex.collect { case (r, i) if !bm.contains(i) => r }
          case None => raw
        }
        val projected =
          (if (keyFilter.isEmpty) undeleted else undeleted.filter(wanted)).map(proj)
        // a changelog pass sees expired rows: its fold applies the expiry
        val aligned = expiry.filter(_ => changelog.isEmpty)
          .fold(projected)(e => projected.filter(e.keep))
        if (!hasPath) aligned
        else {
          val pathRow = new GenericInternalRow(Array[Any](
            org.apache.spark.unsafe.types.UTF8String.fromString(
              GraftScan.filePath(tableRoot, f.path))))
          val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
          aligned.map(r => joined(r, pathRow))
        }
      } else {
        // __row_index: the per-file position BEFORE dv filtering (pushdown
        // is disabled for the whole scan, so the index is dense). The
        // shared meta row is safe: the downstream output projection copies
        // each row before the next advance.
        val bm = f.dvPath.map(readDv)
        val indexed = raw.zipWithIndex.filter { case (r, i) =>
          bm.forall(!_.contains(i)) && wanted(r)
        }
        val metaVals = new Array[Any](if (hasPath) 2 else 1)
        if (hasPath) metaVals(0) =
          org.apache.spark.unsafe.types.UTF8String.fromString(GraftScan.filePath(tableRoot, f.path))
        val metaRow = new GenericInternalRow(metaVals)
        val idxSlot = if (hasPath) 1 else 0
        val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
        indexed.map { case (r, i) =>
          metaRow.update(idxSlot, i.toLong)
          joined(proj(r), metaRow)
        }
      }
    }

    def readDv(rel: String): org.roaringbitmap.RoaringBitmap = {
      val path = new org.apache.hadoop.fs.Path(tableRoot, rel)
      val fs = path.getFileSystem(dvConf.get.value.value)
      val in = fs.open(path)
      val bytes = try in.readAllBytes() finally in.close()
      val bm = new org.roaringbitmap.RoaringBitmap()
      bm.deserialize(java.nio.ByteBuffer.wrap(bytes))
      bm
    }

    val merged: Iterator[InternalRow] = (merger, p.merge) match {
      case (Some(m), true) if changelog.isDefined =>
        val c = changelog.get
        new ChangelogMergeRows(m, StructType(outIdx.map(rowSchema(_))),
          p.files.map(f => (rowsOf(f).map(_.copy()), c.preImage(f.path))),
          c.storedPreImage, c.seq, r => expiry.forall(_.keep(r)))
      case (Some(m), true) =>
        // merge rows are buffered per key → copy out of the reused buffers
        new SortMergeRows(m, p.files.map(f => rowsOf(f).map(_.copy())))
      case _ =>
        val project = UnsafeProjection.create(
          outIdx.map { src =>
            BoundReference(src, rowSchema(src).dataType, nullable = true)
          }.toArray[Expression])
        val rows = p.files.iterator.flatMap(f => rowsOf(f))
        // dv-mode pk tables: L0 delete tombstones are stored rows the raw
        // scan must drop (their older targets are masked by bitmaps)
        val live = dropKindIdx match {
          case Some(i) => rows.filter(r => r.getByte(i) != graft.GraftMeta.KindDelete)
          case None => rows
        }
        live.map(project)
    }
    val iter = defaultsExprs match {
      case Some(exprs) =>
        val proj = UnsafeProjection.create(exprs.toArray)
        merged.map(proj)
      case None => merged
    }

    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        if (iter.hasNext) { current = iter.next(); true } else false
      }
      override def get(): InternalRow = current
      override def close(): Unit = files.close()
    }
  }

  private def planOf(f: GraftFileInfo): SchemaReadPlan =
    plans((f.schemaId, f.dvPath.isDefined, GraftTable.formatNameOfPath(f.path)))

  /** The file iterators one reader has opened. `close()` closes the ones
    * that are Closeable, as FileScanRDD does: Spark's vectorized parquet
    * reader registers no task-completion listener and relies on that. The
    * rest close through their listeners. Iterators close themselves at
    * exhaustion too; closing twice is harmless.
    */
  private class OpenFiles {
    private val opened = mutable.ArrayBuffer.empty[AutoCloseable]

    def open(f: GraftFileInfo): Iterator[AnyRef] = {
      val it = planOf(f).read.open(org.apache.spark.sql.graft.SparkShims.partitionedFile(
        partitionRow(f), GraftScan.filePath(tableRoot, f.path), 0, f.length), sqlConf)
      it match {
        case c: AutoCloseable => opened += c
        case _ => ()
      }
      it.asInstanceOf[Iterator[AnyRef]]
    }

    /** Closes every iterator, then rethrows the first failure. */
    def close(): Unit = {
      val failures = opened.toList.flatMap(c => scala.util.Try(c.close()).failed.toOption)
      opened.clear()
      failures.headOption.foreach(throw _)
    }
  }

  private def partitionRow(f: GraftFileInfo): InternalRow = {
    val vals: Seq[Any] = partitionSchema.fields.toSeq.zipWithIndex.map { case (sf, i) =>
      if (sf.name == GraftMeta.BucketCol) f.bucket
      else GraftFileIndex.partitionValueToInternal(sf.dataType, f.partition(i))
    }
    new GenericInternalRow(vals.toArray)
  }
}

object GraftScan {
  /** The `__file_path` of a data file: its manifest path resolved against
    * the table root (migrated tables record absolute source paths).
    */
  def filePath(tableRoot: String, path: String): String =
    new org.apache.hadoop.fs.Path(tableRoot, path).toString

  /** Merged rows of `files` for a compaction rewrite into `outputLevel`
    * (reference: MergeTreeCompactRewriter over SortMergeReader — compaction
    * reuses the read path's merge). Each (partition, bucket) group is one
    * task reading through the scan's reader: DV bitmaps and record-level
    * expiry apply per file, then the k-way merge folds each key. Rows carry
    * the table fields plus seq/pos/kind/bucket, in key order within each
    * group (reported to Catalyst, so a local sort by the directory columns
    * and key is elided where it already holds). Deletes survive below the
    * max level and drop at it. No exchange, no aggregate.
    */
  def compactionInput(table: GraftTable, files: Seq[DataFileMeta], outputLevel: Int,
      nowSec: Long = System.currentTimeMillis() / 1000): org.apache.spark.sql.DataFrame =
    mergeScan(table, files, outputLevel, None, nowSec)

  /** The exact changelog of merging `files` into the max level, read
    * through the same reader as [[compactionInput]]: per key, the before
    * image of `pass.preImage` against the merge of every file
    * ([[graft.merge.ChangelogMergeRows]]). Rows have compactionInput's
    * layout and order. No exchange, no aggregate.
    */
  def changelogInput(table: GraftTable, files: Seq[DataFileMeta], pass: ChangelogPass,
      nowSec: Long = System.currentTimeMillis() / 1000): org.apache.spark.sql.DataFrame =
    mergeScan(table, files, GraftTable.MaxLevel, Some(pass), nowSec)

  private def mergeScan(table: GraftTable, files: Seq[DataFileMeta], outputLevel: Int,
      changelog: Option[ChangelogPass], nowSec: Long): org.apache.spark.sql.DataFrame = {
    val schema = table.schema
    val out = StructType(schema.structType.fields ++ Seq(GraftMeta.seqField,
      GraftMeta.posField, GraftMeta.kindField, GraftMeta.bucketField))
    val rdd = new GraftScan(table.spark, table, None, out, Nil, None,
      filesOverride = Some(files), compactTo = Some(outputLevel),
      changelog = changelog, nowSec = nowSec).rowsRDD
    // within one group the directory columns are constant; on
    // cross-partition tables a group spans partitions, so only the key
    // order holds
    val ordering =
      if (schema.crossPartition) schema.primaryKeys
      else (table.partitionSchema(schema).fieldNames.toSeq ++ schema.primaryKeys).distinct
    org.apache.spark.sql.graft.SparkShims.rowsFrame(table.spark, rdd, out, ordering,
      sizeInBytes = files.map(_.size).sum)
  }

  /** The rows of `snapshot` whose primary key equals one of `keys`
    * (Catalyst values in primary-key order), read on the calling thread
    * with no Spark job (reference: LocalTableQuery.lookup reads the key's
    * bucket levels in-process). The keys become pk filters, so planning
    * prunes as a filtered scan does (bucket, dynamic-bucket and global
    * index, stats, bloom). Each planned partition drains through the scan's
    * own reader: DV masks, schema alignment, defaults, the k-way merge. The
    * reader is handed the key set: it drops every other key's rows on the
    * raw file row, after the DV mask and before the projection, copy and
    * merge, evaluating the key through each file's alignment so that files
    * of older schemas match too. So a lookup pays the merge for its own
    * keys only, not for the rest of their pages; rows are still matched to
    * the keys here, one per key. The readers' Hadoop confs are the table
    * handle's cached broadcasts, so a warm handle broadcasts nothing. Each
    * reader drains as a task of its own
    * ([[org.apache.spark.sql.graft.SparkShims.inLocalTask]]): the file
    * iterators a format closes only through a task-completion listener
    * close with it, also when the read stops early or fails. Rows are laid
    * out in `schema`'s struct type, at most one per key.
    */
  def pointRead(table: GraftTable, snapshot: Snapshot, schema: TableSchema,
      keys: Seq[Seq[Any]]): Seq[InternalRow] = withSession(table.spark) {
    val out = schema.structType
    val pks = schema.primaryKeys
    val pkIdx = pks.map(out.fieldIndex)
    val pkTypes = pkIdx.map(out(_).dataType)
    // distinct keys by Spark's equality: -0.0 = 0.0, binary by content
    import KeyFilter.norm
    val byNorm = mutable.LinkedHashMap.empty[Seq[Any], Seq[Any]]
    keys.filter(_.forall(_ != null)).foreach(k => byNorm.getOrElseUpdate(k.map(norm), k))
    val found = mutable.ArrayBuffer.empty[InternalRow]
    if (byNorm.nonEmpty) {
      val toScala = pkTypes.map(CatalystTypeConverters.createToScalaConverter)
      def eqs(k: Seq[Any]): Seq[Filter] = pks.indices.map(i =>
        org.apache.spark.sql.sources.EqualTo(pks(i), toScala(i)(k(i))))
      val wanted = byNorm.values.toSeq
      val filters: Seq[Filter] =
        if (wanted.size == 1) eqs(wanted.head)
        else if (pks.size == 1)
          Seq(org.apache.spark.sql.sources.In(pks.head, wanted.map(k => toScala.head(k.head)).toArray))
        else Seq(wanted.map(k => eqs(k).reduce(org.apache.spark.sql.sources.And(_, _)): Filter)
          .reduce(org.apache.spark.sql.sources.Or(_, _)))
      val scan = new GraftScan(table.spark, table, Some(snapshot), out, filters, None,
        pinnedSchema = Some(schema), pointKeys = Some(byNorm.keySet.toSet))
      val parts = scan.planInputPartitions().iterator
      val factory = scan.createReaderFactory()
      val pending = mutable.HashSet(byNorm.keys.toSeq: _*)
      while (pending.nonEmpty && parts.hasNext) {
        val part = parts.next()
        org.apache.spark.sql.graft.SparkShims.inLocalTask {
          val reader = factory.createReader(part)
          try {
            while (pending.nonEmpty && reader.next()) {
              val r = reader.get()
              if (pending.remove(pkIdx.indices.map(i => norm(r.get(pkIdx(i), pkTypes(i))))))
                found += r.copy()
            }
          } finally reader.close()
        }
      }
    }
    found.toSeq
  }

  /** Run `f` with `spark` as the thread's active session, so Catalyst reads
    * its conf (time zone, ANSI mode) on threads that have none, such as a
    * server's handler threads.
    */
  def withSession[T](spark: SparkSession)(f: => T): T = {
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(spark)
    try f
    finally prev match {
      case Some(p) => SparkSession.setActiveSession(p)
      case None => SparkSession.clearActiveSession()
    }
  }

  /** Restrict a table field to a nested-pruned requested type: children
    * are intersected BY NAME with the requested struct (recursively),
    * keeping their ids — the alignment target when Spark's SchemaPruning
    * asks for a subset of struct children. Shapes the field can't model
    * child-wise (flat fields, legacy structs without nested ids,
    * array/map-of-struct pruning) return the field unchanged — the caller
    * then reports (and emits) the full type.
    */
  private[v2] def pruneFieldTo(f: Field, requestedType: DataType): Field =
    requestedType match {
      case st: StructType if f.nested.nonEmpty =>
        val byName = f.nested.map(c => c.name -> c).toMap
        f.copy(nested = st.fields.toSeq.flatMap(rf =>
          byName.get(rf.name).map(pruneFieldTo(_, rf.dataType))))
      case _ => f
    }

  /** Restrict an OLD-schema file field to the children whose ids survive
    * in the (pruned) current target — the file-side read schema, so
    * parquet materializes only the requested nested columns.
    */
  private[v2] def pruneByTargetIds(old: Field, target: Field): Field =
    if (target.nested.isEmpty || old.nested.isEmpty) old
    else old.copy(nested = old.nested.flatMap { c =>
      target.nested.find(_.id == c.id).map(tc => pruneByTargetIds(c, tc))
    })

  /** Nested-aware field-id remap expression: when both schema versions
    * carry nested field ids for a struct column, project child-by-child —
    * renamed children follow their id, added children null-fill, retyped
    * children cast (reference: SchemaEvolutionUtil.createDataProjection
    * :266 walks nested RowTypes by child id). A plain struct Cast is
    * POSITIONAL and breaks the moment a nested field is added, so it is
    * only the fallback for structs without nested ids.
    */
  private[v2] def alignFieldExpr(src: Expression, from: Field,
      to: Field): Expression = {
    if (from.nested.isEmpty || to.nested.isEmpty) {
      if (src.dataType == to.sparkType) src
      else Cast(src, to.sparkType, Some(java.util.TimeZone.getDefault.getID))
    } else {
      val byId = from.nested.zipWithIndex.map { case (c, i) => c.id -> (c, i) }.toMap
      val children = to.nested.flatMap { tc =>
        byId.get(tc.id) match {
          case Some((fc, i)) =>
            Seq(Literal(org.apache.spark.unsafe.types.UTF8String.fromString(tc.name),
              StringType),
              alignFieldExpr(GetStructField(src, i, Some(fc.name)), fc, tc))
          case None =>
            Seq(Literal(org.apache.spark.unsafe.types.UTF8String.fromString(tc.name),
              StringType), Literal.create(null, tc.sparkType))
        }
      }
      If(IsNull(src), Literal.create(null, to.sparkType),
        CreateNamedStruct(children.toList))
    }
  }

  /** Decode a StatsCodec-encoded ANALYZE bound to the Catalyst-internal
    * value Catalyst's ColumnStat expects (dates as epoch days, timestamps
    * as epoch micros). Strings/complex types serve no range bounds.
    */
  private[v2] def statInternal(dt: org.apache.spark.sql.types.DataType,
      s: String): Option[Object] = {
    import org.apache.spark.sql.types._
    try dt match {
      case ByteType => Some(java.lang.Byte.valueOf(s.toByte))
      case ShortType => Some(java.lang.Short.valueOf(s.toShort))
      case IntegerType | DateType => Some(java.lang.Integer.valueOf(s.toInt))
      case LongType | TimestampType | TimestampNTZType =>
        Some(java.lang.Long.valueOf(s.toLong))
      case FloatType => Some(java.lang.Float.valueOf(s.toFloat))
      case DoubleType => Some(java.lang.Double.valueOf(s.toDouble))
      case d: DecimalType =>
        Some(org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(s), d.precision, d.scale))
      case BooleanType => Some(java.lang.Boolean.valueOf(s))
      case _ => None
    } catch { case _: NumberFormatException => None }
  }
}

/** Sum-aggregated scan metrics (driver-reported, shown on the scan node).
  * Top-level classes with zero-arg constructors because Spark's metric
  * aggregation re-instantiates them reflectively by class name.
  */
class NumSplitsMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "numSplits"
  override def description(): String = "number of planned splits"
}

class SkippedFilesMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "skippedTableFiles"
  override def description(): String = "number of files skipped by pruning"
}

class ResultedFilesMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "resultedTableFiles"
  override def description(): String = "number of files read"
}
