package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets
import java.util.UUID
import scala.collection.concurrent.TrieMap

/** Physical layout + metadata IO + optimistic commit protocol for one table.
  *
  * Layout (reference: paimon directory scheme — snapshot/, manifest/, schema/):
  * {{{
  *   <root>/schema/schema-<id>.json
  *   <root>/snapshot/snapshot-<id>.json
  *   <root>/manifest/manifest-<uuid>.json
  *   <root>/data/<pt=v dirs>/<__bucket=b>/part-*.parquet
  *   <root>/tag/tag-<name>.json
  * }}}
  *
  * Commits are optimistic (reference: paimon-core
  * org/apache/paimon/operation/FileStoreCommitImpl.java:219): write the new
  * snapshot to a temp file, atomically rename to `snapshot-<latest+1>`, retry
  * on collision. The atomicity primitive is the [[CommitStore]] seam:
  * rename-based here (HDFS, local); object stores implement the same
  * contract with a conditional PUT (see [[CommitStore]]'s scaladoc).
  */
class FileStore(val root: String, val hadoopConf: Configuration,
    val branch: Option[String] = None) {
  // Local-FS fast path (NioLocalFileSystem: no fork+exec chmod per create,
  // no .crc twins) comes ONLY from the explicit `spark.hadoop.fs.file.impl`
  // session setting — every in-repo session builder sets it. The store
  // must NOT setIfUnset it here: callers pass the application-global
  // Configuration (sparkContext.hadoopConfiguration), and mutating it —
  // or resolving `file:` first and landing the instance in Hadoop's
  // JVM-wide (scheme, authority)-keyed FileSystem cache — would swap the
  // no-CRC filesystem under user IO unrelated to graft, with behavior
  // dependent on which component resolved `file:` first.
  val rootPath = new Path(root)
  def fs: FileSystem = rootPath.getFileSystem(hadoopConf)

  /** Branch-local metadata root: a branch is an independent snapshot chain
    * (+ tags/consumers) sharing the main table's schema, manifests and data
    * files (reference: branch/TableBranch.java — copy-on-branch of the
    * snapshot pointer, shared immutable files).
    */
  private val metaRoot: Path =
    branch.map(b => new Path(new Path(rootPath, "branch"), b)).getOrElse(rootPath)

  val schemaDir = new Path(rootPath, "schema")
  val snapshotDir = new Path(metaRoot, "snapshot")
  val manifestDir = new Path(rootPath, "manifest")
  val dataDir = new Path(rootPath, "data")
  val tagDir = new Path(metaRoot, "tag")
  val consumerDir = new Path(metaRoot, "consumer")

  def ofBranch(name: String): FileStore = new FileStore(root, hadoopConf, Some(name))
  def ofMain: FileStore = new FileStore(root, hadoopConf, None)

  // ---------------- branches ----------------

  private def branchesDir = new Path(rootPath, "branch")

  /** Fork a branch at a snapshot: copy the snapshot pointer; everything
    * beneath (manifests, data files, schemas) is shared and immutable.
    */
  def createBranch(name: String, snapshotId: Long): Unit = {
    require(branch.isEmpty, "create branches from the main table")
    require(name.matches("[A-Za-z0-9_-]+"), s"bad branch name: $name")
    val b = ofBranch(name)
    require(!fs.exists(b.snapshotDir), s"branch $name already exists")
    require(b.writeAtomic(b.snapshotPath(snapshotId), readString(snapshotPath(snapshotId))),
      s"failed to fork branch $name")
    b.writeLatestHint(snapshotId)
    b.writeEarliestHint(snapshotId)
  }

  def deleteBranch(name: String): Unit =
    fs.delete(new Path(branchesDir, name), true)

  def listBranches: Seq[String] = {
    if (!fs.exists(branchesDir)) return Nil
    fs.listStatus(branchesDir).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
  }

  /** Every manifest referenced by any snapshot of main, tags, and all
    * branches — the safety set for expiration / orphan cleanup.
    */
  def allReferencedSnapshots: Seq[Snapshot] = {
    val stores = ofMain +: listBranches.map(ofBranch)
    stores.flatMap(s => s.snapshotIds.map(s.readSnapshot) ++ s.listTags.map(_._2))
  }

  // ---------------- raw IO ----------------

  def readBytes(p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  def readString(p: Path): String =
    new String(readBytes(p), StandardCharsets.UTF_8)

  def writeBytes(p: Path, b: Array[Byte]): Unit = {
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(b) finally out.close()
  }

  def writeString(p: Path, s: String): Unit =
    writeBytes(p, s.getBytes(StandardCharsets.UTF_8))

  /** The commit-atomicity seam (SURVEY §7.5 risk #1): every exactly-once
    * publish — snapshots, schemas, tags, branch forks — funnels through
    * [[CommitStore.putIfAbsent]]. Swap for a conditional-put impl on object
    * stores (contract documented on [[CommitStore]]).
    */
  val commitStore: CommitStore = CommitStore.forConf(hadoopConf, () => fs)

  /** Publish content at `target` exactly once; false if target exists. */
  def writeAtomic(target: Path, s: String): Boolean =
    commitStore.putIfAbsent(target, s)

  // ---------------- schemas ----------------

  def schemaPath(id: Long) = new Path(schemaDir, s"schema-$id.json")

  def schemaExists: Boolean = fs.exists(schemaPath(0))

  def commitSchema(s: TableSchema): Unit = {
    require(writeAtomic(schemaPath(s.id), s.toJson), s"schema ${s.id} already exists")
  }

  def readSchema(id: Long): TableSchema = TableSchema.fromJson(readString(schemaPath(id)))

  def latestSchemaId: Long = listNumbered(schemaDir, "schema-").maxOption.getOrElse(
    throw new IllegalStateException(s"no schema in $root"))

  def latestSchema: TableSchema = readSchema(latestSchemaId)

  // ---------------- snapshots ----------------

  def snapshotPath(id: Long) = new Path(snapshotDir, s"snapshot-$id.json")

  private def listNumbered(dir: Path, prefix: String): Seq[Long] = {
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) && n.endsWith(".json"))
      .map(n => n.stripPrefix(prefix).stripSuffix(".json"))
      .flatMap(_.toLongOption)
  }

  def snapshotIds: Seq[Long] = listNumbered(snapshotDir, "snapshot-").sorted

  // Best-effort LATEST pointer (reference: paimon-core
  // utils/SnapshotManager.java:614,669 readHint/commitLatestHint): one GET
  // + a forward existence probe replaces a paginated snapshot-dir LIST at
  // every latestSnapshotId call site (every plan, every commit attempt,
  // every micro-batch poll — a time-travel-heavy table retaining 10⁴+
  // snapshots pays that LIST otherwise). The hint is a plain overwrite,
  // NOT atomic: a stale, torn, or corrupt hint self-heals — the reader
  // validates the pointed-at snapshot exists, probes FORWARD past racing
  // commits, and falls back to the full listing on any miss.
  private def latestHintPath = new Path(snapshotDir, "LATEST")
  private def earliestHintPath = new Path(snapshotDir, "EARLIEST")

  // Hints are advisory-only by design and are written AFTER the commit /
  // expiry already published: NO failure here may propagate (a commit that
  // landed must not look failed to a retrying caller — it would re-write
  // its data), hence NonFatal, not just IOException (Hadoop FileSystems
  // surface unchecked exceptions too).
  private def writeLatestHint(id: Long): Unit =
    try writeString(latestHintPath, id.toString)
    catch { case scala.util.control.NonFatal(_) => () }

  /** Advisory floor pointer, written by snapshot expiry (reference:
    * SnapshotManager.java:61,631 EARLIEST hint). Same self-heal contract
    * as LATEST: validated + probed on read, full LIST on any miss.
    */
  def writeEarliestHint(id: Long): Unit =
    try writeString(earliestHintPath, id.toString)
    catch { case scala.util.control.NonFatal(_) => () }

  private def readHint(p: Path): Option[Long] =
    try readString(p).trim.toLongOption
      .filter(id => id > 0 && fs.exists(snapshotPath(id)))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Last id of the contiguous run starting at `from` (exists(from) holds):
    * exponential gallop + binary search — a hint stale by k commits costs
    * O(log k) existence probes, not k (ids grow contiguously: commit
    * allocates latest+1, expiry trims only the OLD end). The probe is a
    * parameter so the bound is spec-testable.
    */
  private[graft] def gallopLast(from: Long, exists: Long => Boolean): Long = {
    var lo = from
    var step = 1L
    while (exists(lo + step)) { lo += step; step <<= 1 }
    // invariant: exists(lo), !exists(lo + step) — bisect the boundary
    var hi = lo + step
    while (hi - lo > 1) {
      val mid = lo + (hi - lo) / 2
      if (exists(mid)) lo = mid else hi = mid
    }
    lo
  }

  private def gallopLast(from: Long): Long =
    gallopLast(from, id => fs.exists(snapshotPath(id)))

  def latestSnapshotId: Option[Long] = readHint(latestHintPath) match {
    case Some(hint) => Some(gallopLast(hint)) // probe FORWARD past racing commits
    case None => snapshotIds.maxOption
  }

  /** Earliest live snapshot id. The hint may be stale-HIGH only briefly
    * (a racing reader between expiry's deletes and its hint write sees the
    * old hint, which then fails the exists check → LIST fallback) or
    * stale-LOW never for long (hint rewritten by every expiry); a hint
    * that validates but trails reality (e.g. copied by a branch fork)
    * self-heals by probing BACKWARD to the contiguous run's start.
    */
  def earliestSnapshotId: Option[Long] = readHint(earliestHintPath) match {
    case Some(hint) =>
      var cur = hint
      while (cur > 1 && fs.exists(snapshotPath(cur - 1))) cur -= 1
      Some(cur)
    case None => snapshotIds.minOption
  }

  /** Sorted live snapshot ids via the hint pair when both validate — ids
    * are contiguous (commit allocates latest+1, expiry trims only the OLD
    * end, rollback is an inverse COMMIT, never a truncation), so
    * [earliest, latest] IS the listing; falls back to one LIST when either
    * hint is absent/stale. For the hot chain-walking callers (expiry,
    * micro-batch polls) where the dir LIST dominates at 10⁴+ retained
    * snapshots.
    */
  def snapshotIdsHinted: Seq[Long] =
    (readHint(earliestHintPath), readHint(latestHintPath)) match {
      case (Some(eh), Some(lh)) =>
        var lo = eh
        while (lo > 1 && fs.exists(snapshotPath(lo - 1))) lo -= 1
        lo to gallopLast(math.max(lh, eh))
      case _ => snapshotIds
    }

  def readSnapshot(id: Long): Snapshot = Snapshot.fromJson(readString(snapshotPath(id)))

  def latestSnapshot: Option[Snapshot] = latestSnapshotId.map(readSnapshot)

  /** The newest snapshot committed at or before `timestampMs` (epoch
    * millis), if any: the time-travel anchor of a timestamp.
    */
  def snapshotAtOrBefore(timestampMs: Long): Option[Snapshot] =
    snapshotIds.reverseIterator.map(readSnapshot).find(_.timestampMs <= timestampMs)

  // ---------------- decoupled changelog ----------------
  // With changelog retention configured (changelog.num-retained.max /
  // changelog.time-retained), snapshot expiration PRESERVES each expired
  // snapshot's changelog as `changelog/changelog-<id>.json` — a copy of the
  // snapshot metadata — so streaming/incremental reads outlive the snapshot
  // itself (reference: Changelog.java:36, SnapshotManager.commitChangelog,
  // ExpireChangelogImpl.java). Changelogs expire on their OWN schedule via
  // MaintenanceOps.expireChangelogs().

  def changelogDir = new Path(rootPath, "changelog")

  def changelogPath(id: Long) = new Path(changelogDir, s"changelog-$id.json")

  def changelogIds: Seq[Long] = listNumbered(changelogDir, "changelog-").sorted

  def writeChangelog(s: Snapshot): Unit =
    writeString(changelogPath(s.id), s.toJson)

  def readChangelog(id: Long): Snapshot =
    Snapshot.fromJson(readString(changelogPath(id)))

  /** Snapshot metadata for `id` whether it is still live or survives only
    * as a preserved changelog.
    */
  def snapshotOrChangelog(id: Long): Snapshot =
    if (fs.exists(snapshotPath(id))) readSnapshot(id) else readChangelog(id)

  // ---------------- manifests ----------------

  // Manifest files are immutable → safe to cache across reads (reference:
  // paimon-core org/apache/paimon/utils/ObjectsCache.java:39 — also a
  // BOUNDED cache there). Bounded LRU by total cached ENTRY count, not
  // manifest count: an unbounded map pins ~500 B × live files of driver
  // heap forever (≈5 GB at 10⁷ files / ~1 PB) — eviction is always safe
  // (immutable files re-read on miss), and the planning working set
  // (the current snapshot's shards) stays resident under any sane bound.
  private val manifestCache =
    new java.util.LinkedHashMap[String, Seq[ManifestEntry]](256, 0.75f, true) {
      private var cachedEntries = 0L
      override def put(k: String, v: Seq[ManifestEntry]): Seq[ManifestEntry] = {
        val prev = super.put(k, v)
        cachedEntries += v.size - (if (prev == null) 0 else prev.size)
        val it = entrySet().iterator()
        while (cachedEntries > manifestCacheMaxEntries && it.hasNext) {
          val e = it.next()
          // the just-inserted entry is most-recent (last in access order):
          // reaching it means everything else is already evicted and it
          // ALONE exceeds the budget — drop it too, or one oversized
          // manifest (a huge overwrite delta) stays pinned in driver heap
          cachedEntries -= e.getValue.size; it.remove()
        }
        prev
      }
    }

  /** Cached-manifest budget in ENTRIES (~500 B each → default ≈ 2 GB).
    * Tunable per-table via the Hadoop conf (a 10⁷-file driver on a small
    * heap shrinks it; a big driver grows it) — overridable by subclasses
    * for tests.
    */
  val manifestCacheMaxEntries: Long =
    hadoopConf.getLong("graft.manifest-cache.max-entries", 4000000L)

  def writeManifest(entries: Seq[ManifestEntry]): String = {
    // v2 binary (the ".json" suffix is historical — readers dispatch on
    // the magic, and existing chains mix formats freely); JSON manifests
    // measured parse-bound at 10⁷ entries (126 s cold fold)
    val name = s"manifest-${UUID.randomUUID()}.json"
    writeBytes(new Path(manifestDir, name), ManifestCodec.entriesToBytes(entries))
    manifestCache.synchronized { manifestCache.put(name, entries.toVector) }
    name
  }

  def readManifest(name: String): Seq[ManifestEntry] = readManifest(name, true)

  /** `cacheOnMiss = false` keeps a bulk sequential pass (a full-chain fold
    * whose entry span exceeds the cache budget) from cycling the LRU to a
    * guaranteed 0% hit rate — the scan streams past, the cache keeps the
    * working set pruned plans actually revisit.
    */
  def readManifest(name: String, cacheOnMiss: Boolean): Seq[ManifestEntry] = {
    val hit = manifestCache.synchronized { manifestCache.get(name) }
    if (hit != null) hit
    else {
      // parse OUTSIDE the lock — concurrent planners must not serialize
      // on each other's IO; a racing double-read just caches last-wins
      val parsed =
        ManifestCodec.entriesFromAny(readBytes(new Path(manifestDir, name))).toVector
      if (cacheOnMiss)
        manifestCache.synchronized { manifestCache.put(name, parsed) }
      parsed
    }
  }

  /** Shard-decode parallelism for cold folds / unpruned plans (reference:
    * paimon `scan.manifest.parallelism` CoreOptions.java:623 +
    * ScanParallelExecutor.parallelismBatchIterable at
    * AbstractFileStoreScan.java:377). Manifest shards decode independently;
    * only the FOLD order matters — so reads prefetch on a shared pool and
    * are consumed strictly in chain order, making the fold's output
    * byte-identical at any parallelism.
    */
  val manifestParallelism: Int =
    hadoopConf.getInt("graft.manifest.parallelism",
      math.min(16, Runtime.getRuntime.availableProcessors()))

  /** Decode manifests with bounded look-ahead, yielding results IN ORDER.
    * In-flight work is capped at the parallelism (≤ par × maxManifestEntries
    * entries resident beyond the cache, ~32 MB at defaults). Sequential
    * below 4 shards — pool latency would dominate.
    */
  private def readManifestsOrdered(names: Seq[String], cacheOnMiss: Boolean)
      : Iterator[Seq[ManifestEntry]] = {
    val par = math.min(manifestParallelism, names.size)
    if (par <= 1 || names.size < 4) names.iterator.map(readManifest(_, cacheOnMiss))
    else new Iterator[Seq[ManifestEntry]] {
      private val it = names.iterator
      private val inFlight =
        new java.util.ArrayDeque[java.util.concurrent.Future[Seq[ManifestEntry]]](par)
      private def fill(): Unit =
        while (inFlight.size < par && it.hasNext) {
          val n = it.next()
          inFlight.addLast(FileStore.decodePool.submit(
            () => readManifest(n, cacheOnMiss)))
        }
      fill()
      def hasNext: Boolean = !inFlight.isEmpty
      def next(): Seq[ManifestEntry] = {
        val r =
          try inFlight.pollFirst().get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              inFlight.forEach(_.cancel(true))
              throw e.getCause
          }
        fill()
        r
      }
    }
  }

  /** Last-wins ADD/DELETE fold of manifests in chain order — THE fold
    * semantic every reader and compaction shares. Shard decode is
    * parallel; the fold itself consumes shards strictly in order, so the
    * result is independent of [[manifestParallelism]].
    */
  private def foldEntries(ms: Iterable[String], cacheOnMiss: Boolean)
      : scala.collection.mutable.LinkedHashMap[String, DataFileMeta] = {
    val live = scala.collection.mutable.LinkedHashMap.empty[String, DataFileMeta]
    readManifestsOrdered(ms.toVector, cacheOnMiss).foreach(_.foreach { e =>
      if (e.kind == ManifestEntry.ADD) live.put(e.file.path, e.file)
      else live.remove(e.file.path)
    })
    live
  }

  /** Live data files of a snapshot: fold ADD/DELETE entries in manifest order. */
  def liveFiles(s: Snapshot): Seq[DataFileMeta] = liveFiles(s, _ => true)

  /** Live files, reading only manifest shards the `keepShard` predicate
    * accepts. Only add-only (folded) shards may be skipped — a skipped
    * shard's files simply never enter the fold, and later DELETEs of them
    * are no-ops — so the result is exactly `liveFiles` restricted to kept
    * shards (manifest-level skipping, reference: ManifestList partition
    * stats pre-filter).
    */
  def liveFiles(s: Snapshot, keepShard: ManifestMeta => Boolean): Seq[DataFileMeta] = {
    val metaByName = s.manifestMeta.map(m => m.name -> m).toMap
    val read = s.manifests.filterNot(m =>
      metaByName.get(m).exists(meta => meta.addOnly && !keepShard(meta)))
    // scan resistance: a fold whose entry span exceeds the cache budget
    // would cycle the LRU to a 0% hit rate — stream it uncached instead.
    // Manifests without per-manifest meta (legacy chains) count as their
    // cached size if resident, else PESSIMISTICALLY as a full shard — an
    // unknown-size chain must not default into the cache-cycling path.
    val span = read.iterator.map(m =>
      metaByName.get(m).map(_.entries).getOrElse {
        val hit = manifestCache.synchronized { manifestCache.get(m) }
        if (hit != null) hit.size.toLong else maxManifestEntries.toLong
      }).sum
    foldEntries(read, cacheOnMiss = span <= manifestCacheMaxEntries)
      .values.toVector
  }

  @transient private lazy val schemaCache = TrieMap.empty[Long, TableSchema]
  private def cachedSchema(id: Long): TableSchema =
    schemaCache.getOrElseUpdate(id, readSchema(id))

  /** Summarize a manifest's entries for the snapshot-level shard index. */
  def manifestMetaOf(name: String, entries: Seq[ManifestEntry]): ManifestMeta = {
    val adds = entries.filter(_.kind == ManifestEntry.ADD)
    val parts = adds.map(_.file.partition)
    ManifestMeta(
      name = name,
      entries = entries.size.toLong,
      dataSize = adds.map(_.file.size).sum,
      addOnly = adds.size == entries.size,
      schemaIds = entries.map(_.file.schemaId).distinct.sorted,
      ptMin = if (parts.isEmpty || parts.head.isEmpty) None else Some(parts.min(PartTupleOrdering)),
      ptMax = if (parts.isEmpty || parts.head.isEmpty) None else Some(parts.max(PartTupleOrdering)),
      dvCount = adds.map(_.file.dvCount).sum,
      colStats = foldColStats(adds),
      rowCount = adds.map(_.file.rowCount).sum)
  }

  /** Shard-level column ranges: the typed fold of the ADD entries' file
    * stats (see [[ManifestMeta.colStats]]). A column participates only if
    * (a) every contributing schema defines it with the SAME type — stats
    * strings are encoded under the writing schema, and min-of-mins across
    * encodings of different types is not ordered — and (b) every entry
    * carries stats for it with both bounds known; otherwise the column is
    * omitted and the shard is always kept for it (safe). Null counts and
    * row counts sum, so IsNull/IsNotNull shard tests stay conservative.
    */
  private def foldColStats(adds: Seq[ManifestEntry]): Map[String, ColStats] = {
    if (adds.isEmpty) return Map.empty
    val schemas =
      try adds.map(_.file.schemaId).distinct.map(cachedSchema)
      catch { case _: Exception => return Map.empty } // fabricated/legacy
    // candidate columns: consistent type across contributing schemas
    val types: Map[String, org.apache.spark.sql.types.DataType] =
      schemas.head.fields.flatMap { f =>
        val dt = f.sparkType
        if (schemas.forall(_.fields.exists(g =>
            g.name == f.name && g.sparkType == dt))) Some(f.name -> dt)
        else None
      }.toMap
    types.flatMap { case (col, dt) =>
      var mn: Comparable[Any] = null; var mnS: String = null
      var mx: Comparable[Any] = null; var mxS: String = null
      var nulls = 0L
      var ok = true
      val it = adds.iterator
      while (ok && it.hasNext) {
        it.next().file.stats.get(col) match {
          case Some(cs) if cs.min.isDefined && cs.max.isDefined =>
            nulls += cs.nullCount
            (StatsCodec.toComparable(dt, cs.min.get),
             StatsCodec.toComparable(dt, cs.max.get)) match {
              case (Some(lo), Some(hi)) =>
                if (mn == null || lo.compareTo(mn) < 0) { mn = lo; mnS = cs.min.get }
                if (mx == null || hi.compareTo(mx) > 0) { mx = hi; mxS = cs.max.get }
              case _ => ok = false
            }
          case _ => ok = false
        }
      }
      if (ok && mn != null) Some(col -> ColStats(Some(mnS), Some(mxS), nulls))
      else None
    }
  }

  /** Lexicographic-by-component ordering of partition value tuples; the
    * SAME ordering is used to pack shards and to test shard ranges, so the
    * range check is sound regardless of the column's real type. Null
    * partition values sort first.
    */
  object PartTupleOrdering extends Ordering[Seq[String]] {
    def compare(a: Seq[String], b: Seq[String]): Int = {
      val it = a.iterator.zip(b.iterator)
      while (it.hasNext) {
        val (x, y) = it.next()
        val c = (x, y) match {
          case (PartitionPathUtils.NullPartitionValue, PartitionPathUtils.NullPartitionValue) => 0
          case (PartitionPathUtils.NullPartitionValue, _) => -1
          case (_, PartitionPathUtils.NullPartitionValue) => 1
          case _ => x.compareTo(y)
        }
        if (c != 0) return c
      }
      a.length.compareTo(b.length)
    }
  }

  // ---------------- commit ----------------

  /** Max manifests per snapshot before a full rewrite (reference:
    * ManifestFileMeta.merge, CoreOptions "manifest.full-compaction-threshold").
    */
  val manifestMergeThreshold = 16

  /** Max entries per folded manifest shard — bounds driver parse time per
    * shard; at 10^7 live files the fold yields ~2.5k shards of which a
    * pruned query reads only the matching ones (reference: bounded-size
    * manifests in ManifestFileMeta.merge:148).
    */
  val maxManifestEntries = 4096

  case class CommitResult(snapshot: Snapshot, committed: Boolean)

  /** Optimistic-concurrency commit of a set of delta entries.
    *
    * @param commitIdentifier streaming exactly-once key; commits whose
    *   identifier already exists in the snapshot chain are skipped
    *   (reference: FileStoreCommitImpl.filterCommitted:202-207).
    * @param expectedLatest verify-and-commit CAS: fail (never retry) if
    *   the latest snapshot id at commit time differs — the atomic form of
    *   a read-verify-overwrite protocol (e.g. an index retrain whose
    *   rewritten frame must contain every committed row); a plain
    *   check-then-act leaves a window where a racing commit's rows are
    *   silently dropped by the overwrite.
    */
  def commit(
      delta: Seq[ManifestEntry],
      commitKind: String,
      commitIdentifier: Long = -1L,
      watermark: Option[Long] = None,
      changelog: Seq[ManifestEntry] = Nil,
      newIndexFiles: Seq[String] = Nil,
      consumedIndexFiles: Seq[String] = Nil,
      maxRetries: Int = 20,
      commitUser: String = "",
      expectedLatest: Option[Long] = None): CommitResult = {
    var attempt = 0
    while (true) {
      val latest = latestSnapshot
      expectedLatest.foreach { e =>
        val cur = latest.map(_.id).getOrElse(0L)
        require(cur == e,
          s"commit conflict: expected base snapshot $e but table is at " +
            s"$cur — a concurrent commit landed; rows it added are not " +
            "in this rewrite")
      }
      // exactly-once replay check, scoped PER COMMIT USER (reference:
      // FileStoreCommitImpl.filterCommitted:202-207 keyed by commitUser):
      // independent streaming writers have independent epoch sequences.
      // Legacy compat: snapshots written before per-user scoping recorded
      // progress only in the scalar maxCommitIdentifier. When the per-user
      // map is entirely EMPTY (pure legacy chain) fall back to the scalar —
      // a streaming query restarting across the upgrade must not re-commit
      // its replayed last epoch. Once any scoped commit exists the map is
      // authoritative: a user missing from a non-empty map is a genuinely
      // NEW writer and starts from -1 (the round-10 multi-writer fix).
      // UPGRADE CONSTRAINT (accepted, documented): the legacy scalar is
      // anonymous — it cannot be attributed to a commitUser, so it cannot
      // seed the per-user map without risking a new writer skipping its
      // early epochs (the exact round-10 bug). Consequence: if TWO
      // pre-upgrade streaming writers shared one legacy chain, the first
      // to restart post-upgrade claims the scalar's protection and the
      // second may re-commit ONE replayed epoch. Restart pre-upgrade
      // writers one at a time (or with fresh checkpoints) across the
      // upgrade; post-upgrade writers are fully independent.
      def maxIdOf(sn: Snapshot): Long =
        if (commitUser.isEmpty) sn.maxCommitIdentifier
        else sn.maxCommitIdentifiers.getOrElse(commitUser,
          if (sn.maxCommitIdentifiers.isEmpty) sn.maxCommitIdentifier else -1L)
      if (commitIdentifier >= 0 &&
          latest.exists(maxIdOf(_) >= commitIdentifier)) {
        return CommitResult(latest.get, committed = false)
      }
      val nextId = latest.map(_.id + 1).getOrElse(1L)
      // Conflict check: every file this commit deletes must still be live
      // (reference: FileStoreCommitImpl.noConflictsOrFail:273-306 — scoped
      // to touched entries there; scoped to touched PARTITIONS here). The
      // liveness fold is restricted to manifest shards whose partition
      // range can hold a deleted file's partition: a deleted path's ADD
      // entry always sits in a shard whose [ptMin, ptMax] contains its
      // partition (ranges are computed from actual adds), and DELETE
      // entries live in non-addOnly tail manifests which are never
      // skipped — so the restricted fold's verdict on each deleted path
      // equals the full fold's, at O(touched-partition shards) driver
      // cost instead of O(live files) per DV-mask / compaction / row-level
      // delete commit.
      val deleteEntries = delta.filter(_.kind == ManifestEntry.DELETE)
      if (deleteEntries.nonEmpty) {
        val deletes = deleteEntries.map(_.file.path)
        val delParts = deleteEntries.map(_.file.partition).distinct
          .sorted(PartTupleOrdering)
        // sorted-overlap test: some deleted partition lies in [lo, hi] ⟺
        // the first deleted partition ≥ lo is ≤ hi
        def overlaps(lo: Seq[String], hi: Seq[String]): Boolean = {
          var l = 0; var r = delParts.size
          while (l < r) { // lower bound of lo
            val mid = (l + r) >>> 1
            if (PartTupleOrdering.compare(delParts(mid), lo) < 0) l = mid + 1
            else r = mid
          }
          l < delParts.size && PartTupleOrdering.compare(delParts(l), hi) <= 0
        }
        val keep: ManifestMeta => Boolean = mm => (mm.ptMin, mm.ptMax) match {
          case (Some(lo), Some(hi)) => overlaps(lo, hi)
          case _ => true // no range metadata → cannot skip
        }
        val live = latest.map(s => liveFiles(s, keep).map(_.path).toSet)
          .getOrElse(Set.empty)
        val gone = deletes.filterNot(live.contains)
        require(gone.isEmpty,
          s"commit conflict: files deleted concurrently: ${gone.take(3).mkString(",")}")
      }
      val baseManifests = latest.map(_.manifests).getOrElse(Nil)
      val baseMeta = latest.map(_.manifestMeta.map(m => m.name -> m).toMap)
        .getOrElse(Map.empty)
      val deltaName = writeManifest(delta)
      val addRows = delta.collect { case ManifestEntry(ManifestEntry.ADD, f) => f.liveRowCount }.sum
      val delRows = delta.collect { case ManifestEntry(ManifestEntry.DELETE, f) => f.liveRowCount }.sum
      val prevTotal = latest.map(_.totalRecordCount).getOrElse(0L)

      var manifests = baseManifests :+ deltaName
      // carry forward metadata of surviving manifests; summarize the new one
      var meta = manifests.map(m =>
        baseMeta.getOrElse(m, if (m == deltaName) manifestMetaOf(m, delta)
          else manifestMetaOf(m, readManifest(m))))
      // Manifest compaction, INCREMENTAL (reference: ManifestFileMeta
      // .merge:148 leaves full manifests untouched). The PREFIX of
      // fold-produced run shards is kept verbatim — never read, never
      // rewritten (except by the tiered run merge below) — and only the
      // SUFFIX (the tail: deltas, residual-delete manifests) folds,
      // replaced in its own chain position by its exact net effect:
      //   • the tail's last-wins live files, as partition-sorted ADD-only
      //     shards (narrow partition ranges → planning-time shard skip);
      //   • the tail's DELETEs of paths it did not itself re-add last, as
      //     ONE residual DELETE manifest placed after the shards — those
      //     can only target prefix entries (or be no-ops).
      // Because kept manifests keep their chain positions and the
      // replacement preserves the suffix's net (adds, foreign-deletes)
      // effect on ANY prior state, last-wins equivalence is structural:
      // no reordering hazard, no demotion scans, and a fold costs
      // O(tail) manifest IO even in a cold process. (The pre-r17 full
      // rewrite made a 10⁵-file chain pay O(N²/threshold) total commit
      // wall — measured 46× at 10× files in PlanScaleStress.)
      //
      // The trigger counts the TAIL, not the chain: kept shards
      // accumulate without bound as the table grows, and a chain-length
      // trigger would fold on every commit, packing each commit into one
      // whole-partition-range shard that skipping can never drop
      // (measured: 12 of 245 shards skippable at 1M files).
      //
      // Residual deletes and re-add shadows re-merge each fold and only
      // shrink when a FULL fold (read everything in chain order, emit
      // pure ADD-only shards) clears them — triggered PROPORTIONALLY
      // (dead metadata > 1/8 of the chain), so the O(chain) full fold is
      // amortized O(1) per deleted/re-added file and chain metadata stays
      // within a constant factor of the live file count even under
      // sustained DV-mask churn or whole-table rewrites.
      val metaByName = manifests.zip(meta).toMap
      // kept prefix = fold-produced RUN shards (run > 0, ADD-only by
      // construction, partial last shard allowed); deltas and residual
      // manifests carry run 0 and form the tail. Pre-run chains (all
      // run 0) re-fold once into run 1 — the documented migration fold.
      val keptN = meta.segmentLength(_.run > 0L, 0)
      var staleEntries = latest.map(_.staleFileEntries).getOrElse(0L)
      if (manifests.size - keptN > manifestMergeThreshold) {
        val tail0 = manifests.drop(keptN)
        // same scan resistance as liveFiles: a tail whose entry span
        // exceeds the cache budget (e.g. one giant overwrite delta)
        // streams past instead of cycling the LRU
        val tailSpan = tail0.iterator
          .map(m => metaByName.get(m).map(_.entries).getOrElse(0L)).sum
        val tailCache = tailSpan <= manifestCacheMaxEntries
        val live = scala.collection.mutable.LinkedHashMap.empty[String, DataFileMeta]
        val deleted = scala.collection.mutable.LinkedHashMap.empty[String, DataFileMeta]
        readManifestsOrdered(tail0, tailCache).foreach(_.foreach { e =>
          if (e.kind == ManifestEntry.ADD) live.put(e.file.path, e.file)
          else { live.remove(e.file.path); deleted.put(e.file.path, e.file) }
        })
        val residual = deleted.filter { case (p, _) => !live.contains(p) }
        // a path both DELETEd and re-ADDed in the tail (a DV mask update)
        // leaves its stale copy in the untouched prefix — count it as
        // dead chain metadata (may overcount tail-local churn: harmless,
        // full folds just come a touch earlier)
        staleEntries += deleted.keysIterator.count(live.contains)
        val chainEntries = meta.map(_.entries).sum
        val deadBudget = math.max(maxManifestEntries.toLong, chainEntries / 8)
        val (kept, foldLive, residualOut) =
          if (residual.size + staleEntries <= deadBudget)
            (manifests.take(keptN), live, residual)
          else {
            // FULL fold: dead metadata (residual deletes + re-add
            // shadows) piled past the budget — re-read the whole chain
            // in order so stale entries drop out and the residual clears
            staleEntries = 0L
            (Vector.empty[String],
              foldEntries(manifests, cacheOnMiss =
                chainEntries <= manifestCacheMaxEntries),
              residual.take(0))
          }
        val sorted = foldLive.values.toVector.sortBy(_.partition)(PartTupleOrdering)
        val keptMeta = kept.map(metaByName)
        val newRunId = keptMeta.map(_.run).maxOption.getOrElse(0L) + 1L
        val newEntries: Vector[Seq[ManifestEntry]] =
          sorted.grouped(maxManifestEntries)
            .map(fs => fs.map(f => ManifestEntry(ManifestEntry.ADD, f))).toVector ++
          (if (residualOut.isEmpty) Nil else Seq(
            residualOut.values.map(f => ManifestEntry(ManifestEntry.DELETE, f)).toVector))
        val names = newEntries.map(writeManifest)
        manifests = kept ++ names
        // meta from the in-memory entries — a fold larger than the cache
        // budget must not re-read its own just-written (evicted) output.
        // ADD-only outputs are the new run; the residual stays run 0.
        meta = keptMeta ++ names.zip(newEntries).map { case (n, es) =>
          val m = manifestMetaOf(n, es)
          if (m.addOnly) m.copy(run = newRunId) else m
        }

        // ---- TIERED run merging (log-structured): without it, every
        // fold generation leaves its own partition-sorted stripe, so one
        // partition's files spread over ~1 shard PER GENERATION and any
        // partition-scoped read (pruned plan, delete-conflict fold) pays
        // O(generations) shards — measured 312 of 2446 shards overlapping
        // a single partition at 10⁷ files. Maintain the invariant that
        // adjacent runs differ ≥4× in size by fusing the LAST two runs
        // (last-wins in chain order, re-sorted, re-sharded) while the
        // older is < 4× the newer; cascades re-check up the stack. Each
        // entry is rewritten O(log₄ live) times total, and a partition
        // overlaps O(log₄ live) runs — the LSM shape, applied to the
        // manifest chain itself (reference analog: ManifestFileMeta.merge
        // size-tiered suggestion + full-compaction threshold). ----
        var runPrefix = meta.segmentLength(_.run > 0L, 0)
        var runs: Vector[Vector[(String, ManifestMeta)]] = {
          val pref = manifests.take(runPrefix).zip(meta.take(runPrefix))
          val out = Vector.newBuilder[Vector[(String, ManifestMeta)]]
          var cur = Vector.empty[(String, ManifestMeta)]
          pref.foreach { p =>
            if (cur.nonEmpty && cur.head._2.run != p._2.run) {
              out += cur; cur = Vector.empty
            }
            cur :+= p
          }
          if (cur.nonEmpty) out += cur
          out.result()
        }
        var mergedRuns = false
        def runEntries(r: Vector[(String, ManifestMeta)]): Long =
          r.map(_._2.entries).sum
        while (runs.size >= 2 &&
            runEntries(runs(runs.size - 2)) < 4L * runEntries(runs.last)) {
          val a = runs(runs.size - 2); val b = runs.last
          val span = runEntries(a) + runEntries(b)
          val fused = foldEntries((a ++ b).map(_._1),
            cacheOnMiss = span <= manifestCacheMaxEntries)
          // cross-run duplicates (re-added paths) fall out here — they
          // were counted as stale when the newer run folded
          staleEntries = math.max(0L, staleEntries - (span - fused.size))
          val runSorted = fused.values.toVector.sortBy(_.partition)(PartTupleOrdering)
          val runId = a.head._2.run // earlier id keeps ids increasing
          val shards = runSorted.grouped(maxManifestEntries)
            .map(fs => fs.map(f => ManifestEntry(ManifestEntry.ADD, f)): Seq[ManifestEntry])
            .toVector
          val nms = shards.map(writeManifest)
          val nmt = nms.zip(shards).map { case (n, es) =>
            manifestMetaOf(n, es).copy(run = runId)
          }
          runs = runs.dropRight(2) :+ nms.zip(nmt)
          mergedRuns = true
        }
        if (mergedRuns) {
          val flat = runs.flatten
          manifests = flat.map(_._1) ++ manifests.drop(runPrefix)
          meta = flat.map(_._2) ++ meta.drop(runPrefix)
        }
      }

      val snap = Snapshot(
        id = nextId,
        schemaId = latestSchemaId,
        manifests = manifests,
        deltaManifests = Seq(deltaName),
        commitKind = commitKind,
        commitIdentifier = commitIdentifier,
        commitUser = commitUser,
        totalRecordCount = prevTotal + addRows - delRows,
        // watermarks are monotone and carry forward across commits
        watermark = (watermark.toSeq ++ latest.flatMap(_.watermark).toSeq).maxOption,
        timestampMs = System.currentTimeMillis(),
        manifestMeta = meta,
        maxCommitIdentifier =
          math.max(latest.map(_.maxCommitIdentifier).getOrElse(-1L),
            if (commitUser.isEmpty) commitIdentifier else -1L),
        maxCommitIdentifiers = {
          val prev = latest.map(_.maxCommitIdentifiers).getOrElse(Map.empty)
          if (commitUser.isEmpty || commitIdentifier < 0) prev
          else prev + (commitUser ->
            math.max(prev.getOrElse(commitUser, -1L), commitIdentifier))
        },
        changelogManifests =
          if (changelog.isEmpty) Nil else Seq(writeManifest(changelog)),
        // an index consolidation drops exactly the delta dirs its fold
        // consumed and appends the fold; deltas committed concurrently
        // (between the fold's read and this commit) survive in the list,
        // so the consolidation race cannot silently lose index entries
        indexFiles = latest.map(_.indexFiles).getOrElse(Nil)
          .filterNot(consumedIndexFiles.toSet) ++ newIndexFiles,
        staleFileEntries = staleEntries)
      if (writeAtomic(snapshotPath(nextId), snap.toJson)) {
        writeLatestHint(nextId)
        if (nextId == 1L) writeEarliestHint(1L) // seed the floor pointer
        return CommitResult(snap, committed = true)
      }
      attempt += 1
      require(attempt < maxRetries, s"commit failed after $maxRetries retries")
    }
    throw new IllegalStateException("unreachable")
  }

  // ---------------- deletion vectors ----------------

  val dvDir = new Path(rootPath, "dv")

  /** Persist a deletion bitmap; returns the path relative to the table root. */
  def writeDv(bitmap: org.roaringbitmap.RoaringBitmap): String =
    FileStore.writeDvAt(root, hadoopConf, bitmap)

  def readDv(relPath: String): org.roaringbitmap.RoaringBitmap =
    FileStore.readDvAt(root, hadoopConf, relPath)

  // ---------------- bloom index sidecars ----------------

  private val bloomCache = TrieMap.empty[String, org.apache.spark.util.sketch.BloomFilter]

  def writeBloom(bytes: Array[Byte]): String = {
    val name = s"idx/bloom-${UUID.randomUUID()}.bin"
    val p = new Path(rootPath, name)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
    name
  }

  def readBloom(relPath: String): org.apache.spark.util.sketch.BloomFilter =
    bloomCache.getOrElseUpdate(relPath, {
      val in = fs.open(new Path(rootPath, relPath))
      try org.apache.spark.util.sketch.BloomFilter.readFrom(in) finally in.close()
    })

  // ---------------- tags ----------------

  def tagPath(name: String) = new Path(tagDir, s"tag-$name.json")

  /** A tag file is the snapshot JSON plus tag metadata: creation time and
    * an optional time-to-live (reference: tag/Tag.java "tagCreateTime" /
    * "tagTimeRetained"). Snapshot.fromJson ignores the extra keys.
    */
  def createTag(name: String, snapshotId: Long,
      timeRetainedMs: Option[Long] = None): Unit = {
    require(fs.exists(snapshotPath(snapshotId)), s"no snapshot $snapshotId")
    val node = Json.parse(readString(snapshotPath(snapshotId)))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.put("tagCreateTime", System.currentTimeMillis())
    timeRetainedMs.foreach(ms => node.put("tagTimeRetained", ms))
    require(writeAtomic(tagPath(name), Json.write(node)),
      s"tag $name already exists")
  }

  /** (createTimeMs, timeRetainedMs) of a tag; absent on pre-TTL tag files. */
  def readTagMeta(name: String): (Option[Long], Option[Long]) = {
    val n = Json.parse(readString(tagPath(name)))
    (Option(n.get("tagCreateTime")).map(_.asLong()),
      Option(n.get("tagTimeRetained")).map(_.asLong()))
  }

  def deleteTag(name: String): Unit = fs.delete(tagPath(name), false)

  def readTag(name: String): Snapshot = Snapshot.fromJson(readString(tagPath(name)))

  def listTags: Seq[(String, Snapshot)] = {
    if (!fs.exists(tagDir)) return Nil
    fs.listStatus(tagDir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("tag-") && n.endsWith(".json"))
      .map(n => n.stripPrefix("tag-").stripSuffix(".json"))
      .sorted.map(n => n -> readTag(n))
  }

  // ---------------- column statistics (ANALYZE → CBO) ----------------

  private val colStatsPath = new Path(metaRoot, "stats/colstats.json")

  /** Persist ANALYZE results (reference: stats/Statistics.java + the Spark
    * PaimonAnalyzeTableColumnCommand.scala:43). Latest-wins single file;
    * `snapshotId` records freshness.
    */
  def writeColStats(stats: TableColStats): Unit =
    writeString(colStatsPath, stats.toJson)

  def readColStats(): Option[TableColStats] =
    if (!fs.exists(colStatsPath)) None
    else Some(TableColStats.fromJson(readString(colStatsPath)))

  // ---------------- consumers (durable read progress, T4) ----------------

  def writeConsumer(id: String, nextSnapshot: Long): Unit =
    writeString(new Path(consumerDir, s"consumer-$id.json"),
      s"""{"nextSnapshot":$nextSnapshot}""")

  def readConsumer(id: String): Option[Long] = {
    val p = new Path(consumerDir, s"consumer-$id.json")
    if (!fs.exists(p)) None
    else Json.optLong(Json.parse(readString(p)), "nextSnapshot")
  }

  /** All registered consumers (id, nextSnapshot) — the expiry pin set
    * (reference: consumer/ConsumerManager.java:40 minNextSnapshot).
    */
  def listConsumers: Seq[(String, Long)] = {
    if (!fs.exists(consumerDir)) return Nil
    fs.listStatus(consumerDir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("consumer-") && n.endsWith(".json"))
      .map(n => n.stripPrefix("consumer-").stripSuffix(".json"))
      .sorted.flatMap(id => readConsumer(id).map(id -> _))
  }

  /** Consumers with the wall-clock time of their last progress write (file
    * mtime — writeConsumer rewrites the file on every advance). Lets expiry
    * ignore abandoned readers (reference: CoreOptions
    * "consumer.expiration-time").
    */
  def listConsumersWithTime: Seq[(String, Long, Long)] = {
    if (!fs.exists(consumerDir)) return Nil
    fs.listStatus(consumerDir).toSeq
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("consumer-") && n.endsWith(".json")
      }
      .sortBy(_.getPath.getName)
      .flatMap { st =>
        val id = st.getPath.getName.stripPrefix("consumer-").stripSuffix(".json")
        readConsumer(id).map(next => (id, next, st.getModificationTime))
      }
  }

  def deleteConsumer(id: String): Unit =
    fs.delete(new Path(consumerDir, s"consumer-$id.json"), false)
}

/** Location-addressed DV sidecar IO, callable from EXECUTOR tasks: the
  * per-file bitmap fold already runs distributed, so the sidecar bytes are
  * written where they are produced and only `(path, dvPath, cardinality)`
  * tuples travel to the driver — at 10⁵ touched files per epoch the driver
  * no longer serializes 10⁵ small writes (reference: task-side
  * IndexFileHandler writes DV index files within the writer, not the
  * committer).
  */
object FileStore {
  /** Shared daemon pool for manifest shard decode — process-wide (stores
    * are constructed per table per plan; per-instance pools would leak
    * threads). Decode tasks never submit back into the pool, so a fixed
    * size cannot deadlock; concurrent planners simply share the cores.
    * Capped at 16 — the `graft.manifest.parallelism` default — so a cold
    * plan's decode burst cannot oversubscribe a local[32+] driver against
    * its own executor threads (on a real driver node executors are
    * remote and the cap is simply the per-fold parallelism ceiling).
    */
  private[core] lazy val decodePool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      math.max(2, math.min(16, Runtime.getRuntime.availableProcessors())),
      (r: Runnable) => {
        val t = new Thread(r, "graft-manifest-decode")
        t.setDaemon(true)
        t
      })

  def writeDvAt(root: String, conf: Configuration,
      bitmap: org.roaringbitmap.RoaringBitmap): String = {
    bitmap.runOptimize()
    val buf = java.nio.ByteBuffer.allocate(bitmap.serializedSizeInBytes())
    bitmap.serialize(buf)
    val name = s"dv/dv-${UUID.randomUUID()}.bin"
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    val p = new Path(rootPath, name)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(buf.array(), 0, buf.position()) finally out.close()
    name
  }

  def readDvAt(root: String, conf: Configuration,
      relPath: String): org.roaringbitmap.RoaringBitmap = {
    val rootPath = new Path(root)
    val in = rootPath.getFileSystem(conf).open(new Path(rootPath, relPath))
    val bytes = try in.readAllBytes() finally in.close()
    val bm = new org.roaringbitmap.RoaringBitmap()
    bm.deserialize(java.nio.ByteBuffer.wrap(bytes))
    bm
  }
}
