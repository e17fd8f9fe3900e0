package graft.table

import graft.GraftMeta._
import graft.core._
import graft.functions.ZOrder
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DateType, NumericType, StringType, TimestampNTZType, TimestampType}

/** Background reorganization jobs, run as normal Spark jobs over the table
  * (reference: paimon-core mergetree/compact and the Spark
  * CompactProcedure.java:99-149).
  */
trait MaintenanceOps { self: GraftTable =>

  /** Number of level-0 runs in one bucket that triggers compaction
    * (reference: CoreOptions "num-sorted-run.compaction-trigger":444).
    */
  def compactionTrigger: Int =
    schema.option("num-sorted-run.compaction-trigger", "5").toInt

  /** Append-table small-file threshold (bytes). */
  def smallFileThreshold: Long =
    schema.option(TableSchema.TargetFileSizeOpt, (64L * 1024 * 1024).toString).toLong / 2

  /** Size-amplification trigger: L0 bytes / compacted bytes ≥ this percent
    * (reference: UniversalCompaction size-amplification trigger :83-114,
    * CoreOptions "compaction.max-size-amplification-percent").
    */
  def maxSizeAmplificationPercent: Int =
    schema.option("compaction.max-size-amplification-percent", "200").toInt

  /** Pick the (partition, bucket) groups whose run shape warrants
    * compaction (reference: UniversalCompaction.pick:42,70): run-count
    * trigger (≥ `compactionTrigger` sorted runs) or size-amplification
    * trigger (uncompacted bytes ≥ N% of compacted bytes). Only triggered
    * buckets rewrite — a hot bucket never forces a table-wide rewrite.
    */
  private def sizeAmpTriggered(files: Seq[DataFileMeta]): Boolean = {
    val upper = files.filter(_.level < GraftTable.MaxLevel)
    files.filter(_.level >= GraftTable.MaxLevel).map(_.size).sum match {
      case 0 => false
      case base => upper.map(_.size).sum * 100 >= base * maxSizeAmplificationPercent
    }
  }

  def pickCompaction(): Seq[(Seq[String], Int)] = {
    require(isPrimaryKeyed, "compaction picking targets primary-key tables")
    val live = store.latestSnapshot.map(store.liveFiles).getOrElse(Nil)
    live.groupBy(f => (f.partition, f.bucket)).toSeq.collect {
      case ((pt, b), files) if {
        val l0 = files.filter(_.level < GraftTable.MaxLevel)
        val compacted = files.filter(_.level >= GraftTable.MaxLevel)
        val runCount = l0.size + math.min(compacted.size, 1)
        (l0.nonEmpty && runCount >= compactionTrigger) || sizeAmpTriggered(files)
      } => (pt, b)
    }
  }

  /** Can this table compact a run SUBSET without a terminal merge? The
    * subset rewrite is sound exactly when the per-key fold is ASSOCIATIVE
    * in sequence order — the intermediate survivor then re-folds against
    * the untouched base to the same result (reference: UniversalCompaction
    * picks run subsets; MergeTreeCompactRewriter drops deletes only at max
    * level):
    *  - deduplicate / first-row: last/first-wins is associative;
    *  - partial-update: latest-non-null per field is associative, UNLESS
    *    sequence-groups are configured (an intermediate row stores one
    *    value per column, so it cannot carry each group's own winning
    *    sequence — re-folding against the base could then pick the wrong
    *    side);
    *  - aggregation: per-field folds are associative (a partial sum
    *    re-enters as an addend, a partial max as a candidate, …) EXCEPT
    *    `count`, which counts input ROWS — a re-folded intermediate would
    *    collapse its count to 1 — and except retract inputs (-U/-D), whose
    *    sign is derived from the row kind the intermediate cannot preserve
    *    per contribution (checked against the actual runs at compact time).
    * The full-compaction changelog producer compares each key's top-level
    * row with its terminal merge, so it never rewrites a run subset.
    */
  private def subsetEligible: Boolean = {
    val engineOk = schema.mergeEngine match {
      case "deduplicate" | "first-row" => true
      case "partial-update" =>
        !schema.options.keys.exists(k =>
          k.startsWith("fields.") && k.endsWith(".sequence-group"))
      case "aggregation" =>
        !schema.options.exists { case (k, v) =>
          k.endsWith(".aggregate-function") && v == "count"
        }
      case _ => false
    }
    engineOk && schema.changelogProducer != ChangelogProducer.FullCompaction
  }

  /** Aggregation folds are sign-sensitive to retract kinds; a subset
    * rewrite is only sound over retract-free runs. One cheap scan of the
    * candidate upper runs (kind column only, parquet-pruned) decides.
    */
  private def retractFree(files: Seq[DataFileMeta]): Boolean =
    schema.mergeEngine != "aggregation" || files.isEmpty ||
      rawDF(files)
        .filter(col(KindCol) =!= lit(KindInsert))
        .limit(1).isEmpty

  /** With a USER sequence field, upper runs can interleave with the base in
    * fold order — an intermediate row then re-folds in the wrong position
    * (latest-non-null picks a stale side; listagg/nested_update concatenate
    * out of order). The subset rewrite stays sound when file stats PROVE
    * every upper run's sequence range lies strictly above the base's
    * (stats of other-schema files are name-keyed and untrusted — see
    * IntervalSections.boundsOf). Without a sequence field the commit
    * sequence orders runs, and upper > base holds by construction.
    */
  private def seqFieldOrderSafe(files: Seq[DataFileMeta]): Boolean =
    schema.sequenceField match {
      case None => true
      case Some(_) if !Seq("partial-update", "aggregation").contains(schema.mergeEngine) =>
        true // dedup/first-row keep whole winner rows: max/min of maxes composes
      case Some(sf) =>
        val dt = schema.fieldByName(sf).sparkType
        val (upper, base) = files.partition(_.level < GraftTable.MaxLevel)
        def stat(f: DataFileMeta, pick: ColStats => Option[String]): Option[Comparable[Any]] =
          if (f.schemaId != schema.id) None
          else f.stats.get(sf).flatMap(pick).flatMap(StatsCodec.toComparable(dt, _))
        val upperMins = upper.map(stat(_, _.min))
        val baseMaxs = base.map(stat(_, _.max))
        upperMins.forall(_.isDefined) && baseMaxs.forall(_.isDefined) &&
          upperMins.flatten.forall(u => baseMaxs.flatten.forall(b => u.compareTo(b) > 0))
    }

  /** Consolidate the dynamic-bucket hash index when its delta-dir list
    * grows past `dynamic-bucket.index-compact.threshold` (default 16):
    * read every delta, write ONE folded dir, and commit a COMPACT snapshot
    * whose index list is just the fold. Keys never move buckets, so the
    * fold is a plain union with no conflict resolution. Old delta dirs
    * stay on disk for snapshots that still reference them and are
    * reclaimed by expiration + orphan cleanup. Without this, a table
    * written to for years accumulates one index dir per keyed commit and
    * every write re-opens thousands of tiny parquet footers.
    * Race-safe against concurrent keyed writes: the commit drops exactly
    * the delta dirs this fold consumed (`consumedIndexFiles`), so an index
    * delta committed between the fold's read and its commit survives in
    * the snapshot list instead of being silently replaced away.
    */
  def compactIndexIfNeeded(): Option[Snapshot] = {
    if (!schema.dynamicBucket && !schema.globalIndexEnabled) return None
    val threshold =
      schema.option("dynamic-bucket.index-compact.threshold", "16").toInt
    val snap = store.latestSnapshot.getOrElse(return None)
    val dirs = snap.indexFiles
    if (dirs.size < threshold) return None
    val folded0 = spark.read
      .parquet(dirs.map(d => new Path(store.rootPath, d).toString): _*)
    // the global pk index accumulates one (kh, partition, bucket) triple
    // per re-upsert of a key at the same location — the fold dedups;
    // dynamic-bucket entries are unique by construction (keys never move)
    val folded = if (schema.globalIndexEnabled) folded0.distinct() else folded0
    val rel = s"index/fold-${java.util.UUID.randomUUID()}"
    GraftTable.byKeyHash(folded, if (schema.dynamicBucket) schema.dynamicBucketAssigners
      else spark.sparkContext.defaultParallelism)
      .write.parquet(new Path(store.rootPath, rel).toString)
    Some(commitFiles(Nil, CommitKind.COMPACT,
      indexFiles = Seq(rel), consumedIndexFiles = dirs))
  }

  /** Rebuild the cross-partition global pk index from the CURRENT live
    * file set: enable the flag if it was off (bypassing the SET guard —
    * this procedure restores the coverage invariant the guard protects),
    * scan every live file's key columns once (schema-id remap for files
    * written under older schemas), and commit ONE folded index dir that
    * REPLACES the whole index list. After this commit every new write
    * appends its own delta, so pre-image bounding and point-lookup pruning
    * become available on tables created before the index existed.
    * Race-safe like the consolidation fold: a delta committed between the
    * rebuild's read and its commit survives (`consumedIndexFiles`).
    */
  def rebuildGlobalIndex(): Snapshot = {
    require(schema.crossPartition,
      "the global pk index targets cross-partition tables")
    if (!schema.globalIndexEnabled)
      setOptionInternal("cross-partition.index.enabled", "true")
    val snap = store.latestSnapshot.getOrElse(
      return commitFiles(Nil, CommitKind.COMPACT))
    val live = store.liveFiles(snap)
    if (live.isEmpty)
      return commitFiles(Nil, CommitKind.COMPACT,
        consumedIndexFiles = snap.indexFiles)
    val delta = globalIndexRows(live)
    val rel = s"index/fold-${java.util.UUID.randomUUID()}"
    GraftTable.byKeyHash(delta, spark.sparkContext.defaultParallelism)
      .write.parquet(new Path(store.rootPath, rel).toString)
    commitFiles(Nil, CommitKind.COMPACT,
      indexFiles = Seq(rel), consumedIndexFiles = snap.indexFiles)
  }

  /** Compact triggered buckets only (reference: UniversalCompaction.pick:42).
    * Buckets with a dominant max-level base rewrite just their upper runs
    * into one intermediate run (O(picked bytes) write amplification); the
    * size-amplification trigger still forces the terminal full rewrite.
    */
  def maybeCompact(): Option[Snapshot] = {
    if (isPrimaryKeyed) {
      val groups = pickCompaction()
      if (groups.isEmpty) None
      else if (!subsetEligible) Some(compactBuckets(groups.toSet))
      else {
        val live = store.latestSnapshot.map(store.liveFiles).getOrElse(Nil)
        val byGroup = live.groupBy(f => (f.partition, f.bucket))
        val (partial0, full0) = groups.partition { g =>
          val files = byGroup.getOrElse(g, Nil)
          files.exists(_.level >= GraftTable.MaxLevel) && !sizeAmpTriggered(files) &&
            seqFieldOrderSafe(files)
        }
        // aggregation tables: retract rows in the candidate upper runs force
        // the terminal rewrite (sign is derived from row kind, which an
        // intermediate row cannot preserve per contribution)
        val partialUpper = partial0.flatMap(g => byGroup.getOrElse(g, Nil))
          .filter(_.level < GraftTable.MaxLevel)
        val (partial, full) =
          if (retractFree(partialUpper)) (partial0, full0)
          else (Nil, groups)
        var snap: Option[Snapshot] = None
        if (full.nonEmpty) snap = Some(compactBuckets(full.toSet))
        if (partial.nonEmpty) snap = Some(rewriteBuckets(partial.toSet, level = 1))
        snap
      }
    } else {
      // append tables: compact a partition's small files when enough of
      // them sum to a target-size file (compaction.min.file-num — avoids
      // compacting almost-full files, not cost-effective) or when the
      // sheer count passes compaction.max.file-num (reference:
      // AppendOnlyCompactManager.pickCompactBefore:180-181)
      val minFileNum = schema.option("compaction.min.file-num", "5").toInt
      val maxFileNum = schema.option("compaction.max.file-num", "50").toInt
      val live = store.latestSnapshot.map(store.liveFiles).getOrElse(Nil)
      val trip = live.filter(_.size < smallFileThreshold)
        .groupBy(_.partition).values.exists { fs =>
          fs.size >= maxFileNum ||
            (fs.size >= minFileNum && fs.map(_.size).sum >= smallFileThreshold * 2)
        }
      if (trip) Some(compactSmallFiles()) else None
    }
  }

  /** Merge + rewrite ONLY the given (partition, bucket) groups as max-level
    * files; all other buckets are untouched (their manifest entries
    * survive). Each group is one merge task → one file, so N triggered
    * buckets parallelize across N tasks and the commit is O(touched files)
    * metadata (reference: MergeTreeCompactTask — per-bucket rewrite).
    */
  def compactBuckets(groups: Set[(Seq[String], Int)]): Snapshot =
    rewriteBuckets(groups, GraftTable.MaxLevel)

  /** Rewrite the given groups' runs into ONE run per group at `level`,
    * merging through the read path's bucket-local k-way merge
    * ([[graft.spark.v2.GraftScan.compactionInput]]; reference:
    * MergeTreeCompactRewriter over SortMergeReader) — no exchange, no
    * aggregate. Below the max level this is the run-subset rewrite: only
    * the runs ABOVE the max-level base merge, into one intermediate run
    * that keeps deletes, kinds and sequences so it re-folds against the
    * untouched base at read time (write amplification O(upper-run bytes);
    * reference: UniversalCompaction.pick run subsets :70-114). At the max
    * level every run merges, deletes drop out and kinds become +I.
    */
  private def rewriteBuckets(groups: Set[(Seq[String], Int)], level: Int): Snapshot = {
    require(isPrimaryKeyed, "use compactSmallFiles() for append tables")
    val terminal = level >= GraftTable.MaxLevel
    require(terminal || subsetEligible,
      s"run-subset compaction unsupported for ${schema.mergeEngine}")
    val live = store.latestSnapshot.map(store.liveFiles).getOrElse(Nil)
    // cross-partition keys live anywhere in their bucket → compact the
    // whole bucket across partitions
    val inGroups =
      if (schema.crossPartition) {
        val buckets = groups.map(_._2)
        live.filter(f => buckets.contains(f.bucket))
      } else live.filter(f => groups.contains((f.partition, f.bucket)))
    val touched = if (terminal) inGroups else inGroups.filter(_.level < GraftTable.MaxLevel)
    if (touched.isEmpty) return commitFiles(Nil, CommitKind.COMPACT)
    val seq = store.latestSnapshotId.getOrElse(0L)
    // one clock for the rewrite and its changelog: both expire the same rows
    val nowSec = System.currentTimeMillis() / 1000
    val merged = graft.spark.v2.GraftScan.compactionInput(this, touched, level, nowSec)
    // a no-op sort on fixed-partition tables (the merge already emits this
    // order); cross-partition groups span partition directories
    val prepared = (if (terminal) merged.withColumn(KindCol, lit(KindInsert)) else merged)
      .sortWithinPartitions((dirColsPublic ++ schema.primaryKeys).map(col): _*)
    val files = stageWrite(prepared, level = level, seq = seq)
    // full-compaction changelog: a second pass of the same reader compares
    // each key's top-level row, as stored, with its merged state (reference:
    // FullChangelogMergeTreeCompactRewriter.java:43); keys with rows below
    // the top level are the input since the last full compaction — the
    // reference's row-deduplicate scope
    val changelog =
      if (!terminal || schema.changelogProducer != ChangelogProducer.FullCompaction) Nil
      else stageChangelog(touched, graft.spark.v2.ChangelogPass(
        touched.filter(_.level >= GraftTable.MaxLevel).map(_.path).toSet,
        storedPreImage = true, seq), nowSec)
    // merged rows can land in a (partition, bucket) combo no prior commit
    // recorded for their key (partial-update can mix partition-column
    // sources) — index the rewrite output so the global index keeps
    // covering every live row
    commitFiles(
      touched.map(ManifestEntry(ManifestEntry.DELETE, _)) ++
        files.map(ManifestEntry(ManifestEntry.ADD, _)),
      CommitKind.COMPACT,
      changelog = changelog, indexFiles = globalIndexDelta(files))
  }

  /** Full compaction of a primary-key table: merge every (partition, bucket)
    * group and rewrite it as one max-level pk-sorted file; deletes drop out
    * (terminal merge). One distributed job — each group is one merge task,
    * so 1000 buckets parallelize across 1000 tasks (reference:
    * MergeTreeCompactManager / MergeTreeCompactTask).
    */
  def compact(): Snapshot = {
    require(isPrimaryKeyed, "use compactSmallFiles() for append tables")
    val live = store.latestSnapshot.map(store.liveFiles).getOrElse(Nil)
    if (live.isEmpty) return commitFiles(Nil, CommitKind.COMPACT)
    compactBuckets(live.map(f => (f.partition, f.bucket)).toSet)
  }

  /** Append-table compaction: bin-pack small files into target-size files,
    * partition dirs preserved by the staged write (reference:
    * append/AppendOnlyCompactManager).
    */
  def compactSmallFiles(): Snapshot = {
    require(!isPrimaryKeyed, "use compact() for primary-key tables")
    val live = store.latestSnapshot.map(store.liveFiles).getOrElse(Nil)
    val small = live.filter(_.size < smallFileThreshold)
    if (small.size < 2) return store.latestSnapshot.get
    val totalBytes = small.map(_.size).sum
    val target = math.max(1, (totalBytes / (smallFileThreshold * 2)).toInt)
    val df = rawDF(small).select(schema.fields.map(f => col(f.name)): _*)
    // bucketed append tables compact per (partition, bucket) so the merged
    // files keep the bucket layout (stageWrite re-derives the column)
    val prepared =
      if (schema.appendBucketed)
        df.withColumn(graft.GraftMeta.BucketCol, appendBucketExpr)
          .repartition((schema.partitionKeys :+ graft.GraftMeta.BucketCol).map(col): _*)
      else if (schema.partitionKeys.nonEmpty) df.repartition(schema.partitionKeys.map(col): _*)
      else df.repartition(target)
    val files = stageWrite(prepared, level = GraftTable.MaxLevel,
      seq = store.latestSnapshotId.getOrElse(0L))
    commitFiles(
      small.map(ManifestEntry(ManifestEntry.DELETE, _)) ++
        files.map(ManifestEntry(ManifestEntry.ADD, _)),
      CommitKind.COMPACT)
  }

  /** Sort compaction (clustering) of an append table: rewrite all data
    * ordered by `order`/`zorder` over the given columns, so correlated
    * filters skip most files via min/max stats (reference:
    * CompactProcedure order_strategy + sort/zorder/ZIndexer.java:63).
    */
  def sortCompact(cols: Seq[String], strategy: String = "zorder"): Snapshot = {
    require(!isPrimaryKeyed, "sort compaction targets append tables")
    require(cols.nonEmpty)
    val live = store.latestSnapshot.map(store.liveFiles).getOrElse(Nil)
    if (live.isEmpty) return commitFiles(Nil, CommitKind.COMPACT)
    val df = rawDF(live).select(schema.fields.map(f => col(f.name)): _*)
    // bucketed append tables cluster WITHIN each bucket: bucket dirs are
    // the join layout and must survive the rewrite, so the shuffle keys on
    // (partition, bucket) and the sort key orders rows inside each bucket
    def arranged(in: DataFrame, sortKeys: Seq[Column]): DataFrame =
      if (schema.appendBucketed)
        in.withColumn(graft.GraftMeta.BucketCol, appendBucketExpr)
          .repartition((schema.partitionKeys :+ graft.GraftMeta.BucketCol).map(col): _*)
          .sortWithinPartitions(sortKeys: _*)
      else in.repartitionByRange(sortKeys: _*).sortWithinPartitions(sortKeys: _*)
    def bySortValue(key: Column): DataFrame =
      arranged(df.withColumn("__sc", key), Seq(col("__sc"))).drop("__sc")
    val sorted = strategy match {
      case "order" => arranged(df, cols.map(col))
      case "zorder" => bySortValue(ZOrder.zvalue(cols.map(col): _*))
      case "hilbert" => bySortValue(graft.functions.Hilbert.hvalue(cols.map(col): _*))
      case other => throw new IllegalArgumentException(s"unknown strategy $other")
    }
    val files = stageWrite(sorted, level = GraftTable.MaxLevel,
      seq = store.latestSnapshotId.getOrElse(0L))
    commitFiles(
      live.map(ManifestEntry(ManifestEntry.DELETE, _)) ++
        files.map(ManifestEntry(ManifestEntry.ADD, _)),
      CommitKind.COMPACT)
  }

  // ---------------- partition expiration ----------------

  /** Drop partitions whose business time fell behind
    * `partition.expiration-time` (reference: operation/PartitionExpire.java:45,
    * CoreOptions partition.timestamp-pattern/-formatter). Time-partitioned
    * 100-TB tables need this to bound growth; the drop is one metadata-only
    * commit of DELETE entries — data files are reclaimed by snapshot expiry
    * later, so time travel across the drop still works.
    *
    * The partition's time comes from substituting its values into
    * `partition.timestamp-pattern` (default `$<first partition key>`) and
    * parsing with `partition.timestamp-formatter` (default yyyy-MM-dd, with
    * a datetime fallback). Unparseable partitions are SKIPPED, never
    * dropped.
    */
  def expirePartitions(): Option[Snapshot] = {
    require(schema.partitionKeys.nonEmpty, "partition expiration needs a partitioned table")
    val ttl = schema.options.get("partition.expiration-time")
      .map(Maintenance.parseDurationMillis)
      .getOrElse(throw new IllegalArgumentException(
        "set 'partition.expiration-time' to enable partition expiration"))
    val pattern = schema.option("partition.timestamp-pattern", "$" + schema.partitionKeys.head)
    val fmt = schema.option("partition.timestamp-formatter", "yyyy-MM-dd")
    val cutoff = System.currentTimeMillis() - ttl
    def timeOf(pt: Seq[String]): Option[Long] = {
      val s = schema.partitionKeys.zip(pt).foldLeft(pattern) {
        case (acc, (k, v)) => acc.replace("$" + k, v)
      }
      val f = java.time.format.DateTimeFormatter.ofPattern(fmt)
      try Some(java.time.LocalDateTime.parse(s, f)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
      catch {
        case _: java.time.format.DateTimeParseException =>
          try Some(java.time.LocalDate.parse(s, f).atStartOfDay()
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
          catch { case _: java.time.format.DateTimeParseException => None }
      }
    }
    val live = store.latestSnapshot.map(store.liveFiles).getOrElse(Nil)
    val expired = live.groupBy(_.partition)
      .filter { case (pt, _) => timeOf(pt).exists(_ < cutoff) }
    if (expired.isEmpty) None
    else {
      Maintenance.log.info(s"expiring ${expired.size} partitions: " +
        expired.keys.take(5).map(_.mkString("/")).mkString(", "))
      Some(commitFiles(
        expired.values.flatten.toSeq.map(ManifestEntry(ManifestEntry.DELETE, _)),
        CommitKind.OVERWRITE))
    }
  }

  // ---------------- partition mark-done ----------------

  /** Mark partitions "done" for downstream schedulers (reference:
    * flink/sink/partition/PartitionMarkDone.java:127 +
    * SuccessFileMarkDoneAction.java:43 — `partition.mark-done-action`,
    * default `success-file`): write/refresh a `_SUCCESS` JSON marker
    * ({creationTime, modificationTime}) in each partition's directory.
    * Explicit specs mark exactly those partitions (the
    * `mark_partition_done` procedure / MarkPartitionDoneAction); with no
    * specs, partitions idle longer than `partition.idle-time-to-done`
    * are marked (the PartitionMarkDoneTrigger idle rule, evaluated from
    * snapshot commit times — O(snapshots + manifest entries) metadata,
    * no data scan). Returns the marked partitions.
    */
  def markPartitionsDone(partitions: Seq[Seq[String]] = Nil): Seq[Seq[String]] = {
    require(schema.partitionKeys.nonEmpty, "mark-done needs a partitioned table")
    val action = schema.option("partition.mark-done-action", "success-file")
    require(action == "success-file",
      s"unsupported partition.mark-done-action: $action (success-file is " +
        "supported; metastore-backed actions need an external registry)")
    val targets = if (partitions.nonEmpty) partitions else idleDonePartitions()
    val fs = store.fs
    targets.map { pt =>
      val rel = schema.partitionKeys.zip(pt).map { case (k, v) =>
        s"$k=${PartitionPathUtils.escape(v)}"
      }.mkString("/")
      val success = new Path(new Path(store.dataDir, rel), "_SUCCESS")
      val now = System.currentTimeMillis()
      val creation =
        if (!fs.exists(success)) now
        else try {
          val in = fs.open(success)
          val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
            finally in.close()
          Json.parse(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
            .get("creationTime").asLong(now)
        } catch { case scala.util.control.NonFatal(_) => now }
      val node = Json.obj()
      node.put("creationTime", creation)
      node.put("modificationTime", now)
      fs.mkdirs(success.getParent)
      val out = fs.create(success, true)
      try out.write(Json.write(node).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      pt
    }
  }

  /** Live partitions whose LAST write (max commit time of snapshots whose
    * delta touched them) is older than `partition.idle-time-to-done`.
    */
  private def idleDonePartitions(): Seq[Seq[String]] = {
    val idleMs = schema.options.get("partition.idle-time-to-done")
      .map(Maintenance.parseDurationMillis)
      .getOrElse(throw new IllegalArgumentException(
        "pass explicit partitions or set 'partition.idle-time-to-done'"))
    val cutoff = System.currentTimeMillis() - idleMs
    val lastWrite = scala.collection.mutable.Map.empty[Seq[String], Long]
    store.snapshotIds.foreach { id =>
      val s = store.readSnapshot(id)
      s.deltaManifests.flatMap(store.readManifest).foreach { e =>
        if (e.kind == ManifestEntry.ADD)
          lastWrite(e.file.partition) =
            math.max(lastWrite.getOrElse(e.file.partition, 0L), s.timestampMs)
      }
    }
    val live = store.latestSnapshot.map(store.liveFiles).getOrElse(Nil)
      .map(_.partition).distinct.toSet
    lastWrite.collect {
      case (pt, t) if live.contains(pt) && t < cutoff => pt
    }.toSeq
  }

  // ---------------- ANALYZE (column statistics for CBO) ----------------

  /** Compute per-column NDV / null count / bounds / lengths in ONE
    * distributed aggregate over the merged table and persist them for the
    * DSv2 scan to serve to Catalyst's cost-based optimizer (reference:
    * PaimonAnalyzeTableColumnCommand.scala:43, stats/Statistics.java). NDV
    * uses HyperLogLog++ (`approx_count_distinct`) — exact distinct at 100 TB
    * would shuffle every column's values.
    */
  def analyzeColumns(colNames: Seq[String] = Nil): TableColStats = {
    val targets = (if (colNames.isEmpty) schema.dataFields.map(_.name) else colNames)
      .map(schema.fieldByName)
      .filter { f =>
        f.sparkType match {
          case _: NumericType | StringType | DateType | TimestampType |
               TimestampNTZType | BooleanType => true
          case _ => false
        }
      }
    require(targets.nonEmpty, "no analyzable columns")
    val df = toDF
    def fixedLen(dt: org.apache.spark.sql.types.DataType): Option[Long] =
      dt match {
        case StringType => None
        case other => Some(other.defaultSize.toLong)
      }
    val aggs = Seq(count(lit(1)).as("__rc")) ++ targets.flatMap { f =>
      val c = col(f.name)
      val lenAggs = fixedLen(f.sparkType) match {
        case Some(w) => Seq(lit(w).as(s"__al_${f.name}"), lit(w).as(s"__ml_${f.name}"))
        case None => Seq(
          ceil(coalesce(avg(length(c)), lit(1.0))).cast("long").as(s"__al_${f.name}"),
          coalesce(max(length(c)), lit(1)).cast("long").as(s"__ml_${f.name}"))
      }
      Seq(
        approx_count_distinct(c).as(s"__ndv_${f.name}"),
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"__nc_${f.name}"),
        min(c).as(s"__mn_${f.name}"),
        max(c).as(s"__mx_${f.name}")) ++ lenAggs
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val cols = targets.map { f =>
      def enc(which: String): Option[String] = {
        val v = row.getAs[Any](s"__${which}_${f.name}")
        StatsCodec.encode(f.sparkType, v)
      }
      f.name -> AnalyzedColStats(
        ndv = row.getAs[Long](s"__ndv_${f.name}"),
        nullCount = row.getAs[Long](s"__nc_${f.name}"),
        min = enc("mn"), max = enc("mx"),
        avgLen = Option(row.getAs[Long](s"__al_${f.name}")),
        maxLen = Option(row.getAs[Long](s"__ml_${f.name}")))
    }.toMap
    val stats = TableColStats(
      snapshotId = store.latestSnapshotId.getOrElse(0L),
      rowCount = row.getAs[Long]("__rc"),
      cols = cols)
    store.writeColStats(stats)
    stats
  }

  // ---------------- expiration / cleanup ----------------

  /** Expire old snapshots, physically deleting files no retained snapshot or
    * tag references (reference: ExpireSnapshotsImpl, SnapshotDeletion;
    * CoreOptions "snapshot.num-retained.*":229).
    */
  def expireSnapshots(retainLast: Int): Seq[Long] = {
    require(retainLast >= 1)
    // hint-backed range: contiguous ids make [EARLIEST, LATEST] the
    // listing, so a retention pass on a 10⁴-snapshot chain skips the
    // paginated dir LIST (falls back to one LIST if either hint is stale)
    val ids = store.snapshotIdsHinted
    // consumers pin snapshots: a registered reader's nextSnapshot (and
    // everything after it) must survive so its stream can resume
    // (reference: consumer/ConsumerManager.java:40 + minNextSnapshot).
    // A pin older than 'consumer.expiration-time' (last progress = file
    // mtime) is an abandoned reader and is ignored — otherwise one stale
    // consumer silently stops ALL reclamation forever (reference:
    // CoreOptions "consumer.expiration-time").
    val consumerTtl = schema.options.get("consumer.expiration-time")
      .map(Maintenance.parseDurationMillis)
    val now = System.currentTimeMillis()
    val livePins = store.listConsumersWithTime.filter { case (id, _, mtime) =>
      val live = consumerTtl.forall(ttl => now - mtime <= ttl)
      if (!live) Maintenance.log.info(s"ignoring expired consumer pin '$id' " +
        s"(idle ${now - mtime} ms > TTL ${consumerTtl.get} ms)")
      live
    }
    val minConsumerNext = livePins.map(_._2).minOption
    val retainBoundary = {
      val byCount = ids.size - retainLast
      minConsumerNext match {
        case Some(m) =>
          val byConsumer = ids.indexWhere(_ >= m) match {
            case -1 => byCount // consumer is past the chain head
            case i => i
          }
          math.min(byCount, byConsumer)
        case None => byCount
      }
    }
    // bound per-call expire work (reference: CoreOptions
    // "snapshot.expire.limit", default 10) — a long-lived chain reclaims
    // incrementally across calls instead of one giant delete pass that
    // stalls the committing writer
    val boundary = math.min(retainBoundary,
      schema.option("snapshot.expire.limit", "10").toInt)
    if (boundary <= 0) return Nil
    val (expire, retain) = ids.splitAt(boundary)
    // keep everything still reachable: retained snapshots, tags, and every
    // branch's chain (branches share data files with main)
    val mainKeep = retain.map(store.readSnapshot) ++ store.listTags.map(_._2)
    val branchKeep = store.listBranches.map(store.ofBranch)
      .map(b => b.snapshotIds.map(b.readSnapshot) ++ b.listTags.map(_._2))
    val keepSnapshots = mainKeep ++ branchKeep.flatten
    // a file meta pins its data file AND its sidecars (deletion-vector
    // bitmap, bloom indexes) — expire them together or dv/ and idx/ grow
    // unboundedly
    def paths(f: DataFileMeta): Seq[String] =
      f.path +: (f.dvPath.toSeq ++ f.blooms.values.toSeq)
    val keepManifests = keepSnapshots
      .flatMap(s => s.manifests ++ s.deltaManifests ++ s.changelogManifests).toSet
    // Keep exactly what retained snapshots can still READ: each one's live
    // fold plus its changelog files. A file superseded within a kept chain
    // (e.g. a DV-rewritten meta's old bitmap) is never opened by any
    // retained read — the fold drops it — so it may go even though a kept
    // manifest file still lists it. The fold is INCREMENTAL along each
    // chain: consecutive snapshot ids reuse the previous live map and apply
    // only that commit's delta, so long retention costs O(chain deltas)
    // manifest reads, not O(kept × manifests).
    def chainKeepFiles(snaps: Seq[Snapshot]): Seq[String] = {
      val distinct = snaps.groupBy(_.id).map(_._2.head).toSeq.sortBy(_.id)
      val live = scala.collection.mutable.LinkedHashMap.empty[String, DataFileMeta]
      var prevId = Long.MinValue
      distinct.flatMap { s =>
        def apply(ms: Seq[String]): Unit = ms.foreach(m =>
          store.readManifest(m).foreach { e =>
            if (e.kind == ManifestEntry.ADD) live.put(e.file.path, e.file)
            else live.remove(e.file.path)
          })
        if (s.id == prevId + 1) apply(s.deltaManifests)
        else { live.clear(); apply(s.manifests) }
        prevId = s.id
        (live.values.flatMap(paths) ++
          s.changelogManifests.flatMap(store.readManifest).flatMap(e => paths(e.file))).toSeq
      }
    }
    val keepFiles = (chainKeepFiles(mainKeep) ++ branchKeep.flatMap(chainKeepFiles)).toSet

    val expireSnaps = expire.map(store.readSnapshot)
    val allExpireManifests = expireSnaps
      .flatMap(s => s.manifests ++ s.deltaManifests ++ s.changelogManifests).distinct
    // decoupled changelog: each expired snapshot's changelog payload is
    // preserved — metadata copied to changelog/<id>, its manifests and
    // files exempt from deletion until expireChangelogs() reclaims them
    // (reference: Changelog.java, ExpireChangelogImpl)
    val decoupled = schema.changelogDecoupled
    // payloads preserved by EARLIER expire rounds must survive too: a
    // changelog-1 L0 file is still listed in snapshot 2's base manifests,
    // so the round that expires snapshot 2 would otherwise delete it —
    // breaking preserved-changelog replay well within changelog retention
    // (only expireChangelogs() may reclaim these).
    val priorPreserved =
      if (!decoupled) Nil
      else store.changelogIds.map(id => changelogPayload(store.readChangelog(id)))
    val preserved = if (!decoupled) Nil else expireSnaps.map(changelogPayload)
    if (decoupled) expireSnaps.zip(preserved).foreach { case (s, (ms, _)) =>
      if (ms.nonEmpty) store.writeChangelog(s)
    }
    val preservedManifests = (priorPreserved ++ preserved).flatMap(_._1).toSet
    val preservedFiles = (priorPreserved ++ preserved).flatMap(_._2).toSet
    // manifest FILES in kept chains must survive (the fold reads them);
    // their dead entries' data files may still be deleted above
    val expireManifests = allExpireManifests
      .filterNot(keepManifests.contains).filterNot(preservedManifests.contains)
    val expireFiles = allExpireManifests.flatMap(m =>
      store.readManifest(m).flatMap(e => paths(e.file)))
      .distinct.filterNot(keepFiles.contains).filterNot(preservedFiles.contains)

    val fs = store.fs
    expireFiles.foreach(p => fs.delete(new Path(store.rootPath, p), false))
    expireManifests.foreach(m => fs.delete(new Path(store.manifestDir, m), false))
    expire.foreach(id => fs.delete(store.snapshotPath(id), false))
    // floor pointer AFTER the deletes (reference: SnapshotManager
    // commitEarliestHint) — a crash in between leaves a stale-low hint
    // that fails its exists check and self-heals via the LIST fallback
    retain.headOption.foreach(store.writeEarliestHint)
    // lineage records follow the retention horizon (each source job keeps
    // its latest registration; see Lineage.prune)
    retain.headOption.foreach(earliest =>
      graft.core.Lineage.prune(fs, store.rootPath, earliest))
    // opt-in (reference: CoreOptions "snapshot.expire.clean-empty-directories"
    // + FileDeletionBase.tryDeleteEmptyDirectory:442): a dropped partition's
    // now-empty partition/bucket dirs are removed bottom-up so object
    // listings don't accumulate dead prefixes. Best-effort and race-safe:
    // a non-empty delete simply fails (recursive = false) and is skipped —
    // a concurrent writer re-creating the dir loses nothing.
    if (schema.option("snapshot.expire.clean-empty-directories", "false").toBoolean) {
      // true ancestry walk, not a string-prefix test — ".../data" must not
      // capture a sibling ".../data-old"
      def underDataDir(p: Path): Boolean = {
        var cur = p
        while (cur != null) {
          if (cur == store.dataDir) return true
          cur = cur.getParent
        }
        false
      }
      val dirs = expireFiles
        .map(p => new Path(store.rootPath, p).getParent)
        .filter(underDataDir).distinct
      // deepest first, then walk up to (but not including) the data root
      dirs.sortBy(-_.depth).foreach { d =>
        var cur = d
        while (cur != null && cur != store.dataDir &&
            (try fs.listStatus(cur).isEmpty catch { case _: Exception => false }) &&
            (try fs.delete(cur, false) catch { case _: Exception => false })) {
          cur = cur.getParent
        }
      }
    }
    if (decoupled) expireChangelogs()
    expire
  }

  /** The manifests + file paths a streaming/incremental read of snapshot
    * `s` consumes ([[GraftTable.changelogOf]]), each file with its
    * sidecars.
    */
  private def changelogPayload(s: Snapshot): (Seq[String], Seq[String]) = {
    val (manifests, files) = changelogOf(s)
    (manifests, files.flatMap(f => f.path +: (f.dvPath.toSeq ++ f.blooms.values.toSeq)))
  }

  /** Expire preserved changelogs by their OWN retention
    * (`changelog.num-retained.min/max`, `changelog.time-retained`) —
    * independent of snapshot retention, so a stream may lag days behind a
    * tight snapshot TTL (reference: ExpireChangelogImpl.expire). A payload
    * file still live in a retained snapshot (an input-producer L0 file not
    * yet compacted away) survives; explicit changelog files are exclusively
    * owned by their snapshot and delete freely.
    */
  def expireChangelogs(): Seq[Long] = {
    val ids = store.changelogIds
    if (ids.isEmpty) return Nil
    val retainMax = schema.option("changelog.num-retained.max",
      Int.MaxValue.toString).toInt
    // an unset min defaults to 10 but never above an EXPLICIT max
    val retainMin = schema.options.get("changelog.num-retained.min") match {
      case Some(v) =>
        val m = v.toInt
        require(m <= retainMax,
          "changelog.num-retained.min must be <= changelog.num-retained.max")
        m
      case None => math.min(10, retainMax)
    }
    val cutoff = schema.options.get("changelog.time-retained")
      .map(d => System.currentTimeMillis() - Maintenance.parseDurationMillis(d))
    val n = ids.size
    val byMax = n - retainMax
    val byTime = cutoff match {
      case None => 0
      case Some(c) =>
        math.min(ids.count(id => store.readChangelog(id).timestampMs < c),
          n - retainMin)
    }
    val k = math.max(byMax, byTime)
    if (k <= 0) return Nil
    val expire = ids.take(k)
    // files reachable from ANY live snapshot/tag/branch must survive
    val reachable = reachableLiveFiles()
    val fs = store.fs
    expire.foreach { id =>
      val s = store.readChangelog(id)
      val (ms, fps) = changelogPayload(s)
      fps.filterNot(reachable.contains)
        .foreach(p => fs.delete(new Path(store.rootPath, p), false))
      ms.foreach(m => fs.delete(new Path(store.manifestDir, m), false))
      fs.delete(store.changelogPath(id), false)
    }
    expire
  }

  /** Every file path reachable from current snapshots, tags, and branches
    * (data + sidecars). O(total manifest entries) driver metadata work.
    */
  private def reachableLiveFiles(): Set[String] = {
    val snaps = store.snapshotIds.map(store.readSnapshot) ++
      store.listTags.map(_._2) ++
      store.listBranches.map(store.ofBranch).flatMap(b =>
        b.snapshotIds.map(b.readSnapshot) ++ b.listTags.map(_._2))
    snaps.flatMap(s => s.manifests ++ s.deltaManifests).distinct
      .flatMap(m => store.readManifest(m).collect {
        case ManifestEntry(ManifestEntry.ADD, f) =>
          f.path +: (f.dvPath.toSeq ++ f.blooms.values.toSeq)
      }.flatten).toSet
  }

  /** Delete data files not referenced by any snapshot/tag and older than the
    * grace period (reference: OrphanFilesClean.java).
    */
  def removeOrphanFiles(olderThanMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val fs = store.fs
    // sidecar dirs (dv bitmaps, bloom indexes) are scanned alongside data —
    // they are referenced from file metas the same way
    // preserved changelogs (decoupled retention) reference only their
    // payload (their base manifest list may already be reclaimed)
    val changelogRefs = store.changelogIds.map(store.readChangelog)
      .flatMap(s => changelogPayload(s)._2)
    val referenced = (store.allReferencedSnapshots
      .flatMap(s => s.manifests ++ s.deltaManifests ++ s.changelogManifests).distinct
      .flatMap(m => store.readManifest(m).flatMap { e =>
        e.file.path +: (e.file.dvPath.toSeq ++ e.file.blooms.values.toSeq)
      }) ++ changelogRefs)
      .map(p => new Path(store.rootPath, p).toUri.getPath).toSet
    // dynamic-bucket index DELTAS are directories referenced by prefix
    val referencedIdxDirs = store.allReferencedSnapshots
      .flatMap(_.indexFiles).distinct
      .map(p => new Path(store.rootPath, p).toUri.getPath)
    val cutoff = System.currentTimeMillis() - olderThanMs
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    Seq(store.dataDir, new Path(store.rootPath, "dv"),
        new Path(store.rootPath, "idx"),
        new Path(store.rootPath, "index")).filter(fs.exists).foreach { dir =>
      val it = fs.listFiles(dir, true)
      while (it.hasNext) {
        val st = it.next()
        val p = st.getPath.toUri.getPath
        if (st.isFile && st.getModificationTime < cutoff &&
            // partition mark-done markers are intentionally unreferenced
            st.getPath.getName != "_SUCCESS" &&
            !referenced.contains(p) &&
            !referencedIdxDirs.exists(d => p.startsWith(d + "/"))) {
          fs.delete(st.getPath, false)
          deleted += st.getPath.toString
        }
      }
    }
    deleted.toSeq
  }

  /** Expire every snapshot whose commit time is older than `olderThanMs`,
    * always retaining the newest `retainMin` (reference: CoreOptions
    * "snapshot.time-retained" + num-retained.min — ExpireSnapshotsImpl
    * applies both bounds together).
    */
  def expireSnapshotsOlderThan(olderThanMs: Long, retainMin: Int = 1): Seq[Long] = {
    val ids = store.snapshotIdsHinted
    val cutoff = System.currentTimeMillis() - olderThanMs
    val expirable = ids.dropRight(math.max(retainMin, 1))
      .takeWhile(id => store.readSnapshot(id).timestampMs < cutoff)
    if (expirable.isEmpty) Nil
    else expireSnapshots(retainLast = ids.size - expirable.size)
  }

  /** Rollback to the snapshot a TAG points at (reference: RollbackProcedure
    * accepts either a snapshot id or a tag name). Uses the tag's own
    * snapshot copy, which outlives expiration of the chain entry.
    */
  def rollbackToTag(tag: String): Snapshot = rollbackToSnapshot(store.readTag(tag))

  /** Rollback the table to an earlier snapshot by committing its file set
    * difference (reference: RollbackProcedure — theirs truncates the
    * snapshot chain; an inverse commit preserves immutable history).
    */
  def rollbackTo(snapshotId: Long): Snapshot =
    rollbackToSnapshot(store.readSnapshot(snapshotId))

  private def rollbackToSnapshot(target: Snapshot): Snapshot = {
    val targetFiles = store.liveFiles(target)
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

  /** Expose dir columns for maintenance jobs. */
  private[table] def dirColsPublic: Seq[String] =
    if (schema.hasBucketDirs) schema.partitionKeys :+ BucketCol
    else schema.partitionKeys
}

object Maintenance {
  private[table] val log = org.slf4j.LoggerFactory.getLogger("graft.Maintenance")

  /** Parse a duration option value: plain millis, or `<n><unit>` with unit
    * ms/s/m/h/d (e.g. "30m", "7d"), whitespace tolerated.
    */
  def parseDurationMillis(s: String): Long = TableSchema.parseDurationMillis(s)
}
