package graft.spark

import graft.GraftMeta
import graft.core._
import graft.spark.v2.{FactoryRead, ReadShapes}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, XxHash64}
import org.apache.spark.sql.sources.{And => SAnd, EqualTo => SEqualTo, Filter, In => SIn, Or => SOr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** File-pruning helpers of scan planning ([[graft.spark.v2.GraftScan]]
  * prunes at partition, bucket, stats and bloom level before any executor
  * touches a file; reference: paimon-core AbstractFileStoreScan.doPlan:287):
  *
  *  - bucket pruning — primary-key equality hashes to a single bucket
  *    (reference: ScanBucketFilter / SnapshotReaderImpl.withBucketFilter:213);
  *  - dynamic-bucket and global-index probes — a pinned key's buckets or
  *    (partition, bucket) groups, read from the snapshot's pk index;
  *  - bloom skipping — an equality literal absent from a file's bloom.
  */
object GraftFileIndex {

  /** Bloom-index file skipping: an equality on an indexed column whose
    * literal is definitely absent from the file's bloom prunes the file
    * (reference: FileIndexPredicate.testPredicate:49,70). Conservative:
    * only top-level AND-ed equalities consult the index.
    */
  def bloomMightMatch(store: FileStore, schema: TableSchema,
      f: DataFileMeta, filters: Seq[Filter], names: StoredNames): Boolean = {
    if (f.blooms.isEmpty) return true
    def eqs(fl: Filter): Seq[(String, Any)] = fl match {
      case SEqualTo(c, v) if v != null => Seq(c -> v)
      case SAnd(l, r) => eqs(l) ++ eqs(r)
      case _ => Nil
    }
    filters.flatMap(eqs).forall { case (c, v) =>
      (names.of(f).get(c).flatMap(f.blooms.get), schema.fields.find(_.name == c)) match {
        case (Some(p), Some(field)) =>
          store.readBloom(p).mightContainLong(
            org.apache.spark.sql.graft.SparkShims.xxhash64Literal(field.sparkType, v))
        case _ => true
      }
    }
  }

  /** Stats and bloom sidecars are keyed by the column names of the schema a
    * file was written under, so after a rename a name can stand for another
    * field (rename `v` to `w`, then add a new `v`). `apply(ids)` maps each
    * current top-level column to the name that holds the same field id, with
    * the same type, in every schema of `ids`; a column outside the map has
    * no usable stats there and pruning keeps the file or shard. One schema
    * read per distinct old schema id; the current schema maps to itself.
    */
  final class StoredNames(store: FileStore, current: TableSchema) {
    private val identity = current.fields.map(f => f.name -> f.name).toMap
    private val byIds = scala.collection.mutable.Map.empty[Set[Long], Map[String, String]]
    private val schemas = scala.collection.mutable.Map(current.id -> current)

    def apply(ids: Set[Long]): Map[String, String] =
      if (ids == Set(current.id)) identity
      else byIds.getOrElseUpdate(ids, {
        val olds = ids.toSeq.map(id => schemas.getOrElseUpdate(id, store.readSchema(id)))
        current.fields.flatMap { f =>
          olds.map(_.fields.find(o => o.id == f.id && o.sparkType == f.sparkType)
            .map(_.name)).distinct match {
            case Seq(Some(n)) => Some(f.name -> n)
            case _ => None
          }
        }.toMap
      })

    def of(f: DataFileMeta): Map[String, String] =
      if (f.schemaId == current.id) identity else apply(Set(f.schemaId))

    /** `stats` of a file or shard written under `ids`, by current name. */
    def stats(ids: Set[Long], stats: Map[String, ColStats]): Map[String, ColStats] =
      if (ids == Set(current.id)) stats
      else apply(ids).flatMap { case (c, n) => stats.get(n).map(c -> _) }
  }

  /** Per-file bucket-prune predicate that is safe across bucket-rescale
    * history: each file's bucket id is checked against literals hashed with
    * the bucket count of the schema the file was WRITTEN under (files carry
    * their schemaId), never blindly with the current count. A scan that
    * observes a table mid-rescale — the bucket option already flipped but
    * the rewrite not yet committed, or a rescale that failed between its
    * two commits — must not prune old-layout files with the new modulus:
    * that silently drops matching rows. Costs one schema-file read per
    * DISTINCT schemaId in the scan (cached), zero for the common
    * single-schema case.
    */
  def bucketPruner(store: FileStore, current: TableSchema,
      filters: Seq[Filter]): DataFileMeta => Boolean = {
    if (!current.hasBucketDirs) return _ => true
    // no pk constraint in the filters → no bucket set under ANY bucket
    // count — skip the per-schemaId resolution (and its schema-file reads)
    if (bucketsFromFilters(current, filters).isEmpty) return _ => true
    val bySchema = scala.collection.mutable.Map.empty[Long, Option[Set[Int]]]
    def bucketsFor(schemaId: Long): Option[Set[Int]] = bySchema.get(schemaId) match {
      case Some(v) => v
      case None =>
        val s = if (schemaId == current.id) current else store.readSchema(schemaId)
        val v = bucketsFromFilters(s, filters)
        bySchema(schemaId) = v
        v
    }
    f => bucketsFor(f.schemaId).forall(_.contains(f.bucket))
  }

  /** Column → value equalities pinned by AND-ed filters. */
  private def pinnedEqs(filters: Seq[Filter]): Map[String, Any] = {
    def eqs(f: Filter): Seq[(String, Any)] = f match {
      case SEqualTo(c, v) if v != null => Seq(c -> v)
      case SAnd(l, r) => eqs(l) ++ eqs(r)
      case _ => Nil
    }
    filters.flatMap(eqs).toMap
  }

  /** Raw Murmur3(seed 42) hash of a fully-pinned pk tuple — identical to
    * the write path's `functions.hash(pkCols)` and therefore to the key
    * hash stored in the dynamic-bucket index. None when the filters don't
    * pin every pk column with an equality.
    */
  def pkHashFromFilters(schema: TableSchema, filters: Seq[Filter]): Option[Int] = {
    if (!schema.isPrimaryKeyed) return None
    val pinned = pinnedEqs(filters)
    if (!schema.primaryKeys.forall(pinned.contains)) return None
    val lits = schema.primaryKeys.map { k =>
      val dt = schema.fieldByName(k).sparkType
      Literal.create(
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToCatalyst(pinned(k)), dt)
    }
    Some(Murmur3Hash(lits, 42).eval(InternalRow.empty).asInstanceOf[Int])
  }

  /** Buckets a fully-pinned pk equality can touch on a DYNAMIC-bucket
    * table, resolved from the snapshot's durable hash index (the
    * key-hash → bucket parquet files; reference: the HashBucketIndex the
    * dynamic-bucket point-lookup path loads). One pushdown-filtered read
    * of the index on the driver — at 100 TB a point lookup reads the
    * index plus exactly the mapped bucket instead of EVERY bucket.
    * None = not a pinned lookup (or no index yet — all buckets);
    * Some(empty) = key provably absent.
    */
  def dynamicBuckets(spark: SparkSession, store: FileStore, schema: TableSchema,
      indexFiles: Seq[String], filters: Seq[Filter],
      shapes: ReadShapes = new ReadShapes(1)): Option[Set[Int]] = {
    if (!schema.dynamicBucket || indexFiles.isEmpty) return None
    pkHashFromFilters(schema, filters).map { h =>
      indexProbe(spark, store, indexFiles, Literal(h),
        StructType(Seq(StructField(GraftMeta.BucketCol, IntegerType))), shapes)
        .map(_.getInt(1)).toSet // O(hash collisions) rows
    }
  }

  /** Rows of the parquet index deltas under `indexDirs` whose `__kh`
    * equals `kh`, as (`__kh` +: `cols`) — read on the calling thread, no
    * Spark job, so planning a point lookup stays on the driver. The pushed
    * equality skips, by their parquet stats, the row groups and pages whose
    * `__kh` range excludes the hash; index files are written sorted by
    * `__kh` for it, folds also range-partitioned
    * ([[graft.table.GraftTable.byKeyHash]]). The reader's Hadoop conf is
    * the read shape's broadcast in `shapes`: a table handle's repeated
    * probes broadcast nothing.
    */
  private def indexProbe(spark: SparkSession, store: FileStore, indexDirs: Seq[String],
      kh: Literal, cols: StructType, shapes: ReadShapes): Seq[InternalRow] = {
    val schema = StructType(StructField("__kh", kh.dataType) +: cols.fields)
    val sqlConf = spark.sessionState.conf
    val read = FactoryRead("parquet",
      shapes.conf(spark, "parquet", schema, sqlConf.getAllConfs),
      schema, schema, new StructType(), Array(SEqualTo("__kh", kh.value)), batched = false)
    indexDirs.flatMap(d => store.fs.listStatus(new Path(store.rootPath, d)).toSeq)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .flatMap { st =>
        val rows = read.open(org.apache.spark.sql.graft.SparkShims.partitionedFile(
          InternalRow.empty, st.getPath.toString, 0, st.getLen), sqlConf)
          .asInstanceOf[Iterator[InternalRow]]
        try rows.filter(_.get(0, kh.dataType) == kh.value).map(_.copy()).toVector
        finally rows match {
          case c: AutoCloseable => c.close()
          case _ => ()
        }
      }
  }

  /** xxhash64(seed 42) of a fully-pinned pk tuple — identical to the write
    * path's `functions.xxhash64(pkCols)` and therefore to the key hash in
    * the cross-partition GLOBAL index (GraftTable.globalIndexDelta). None
    * when the filters don't pin every pk column with an equality.
    */
  def pkXxHashFromFilters(schema: TableSchema, filters: Seq[Filter]): Option[Long] = {
    if (!schema.isPrimaryKeyed) return None
    val pinned = pinnedEqs(filters)
    if (!schema.primaryKeys.forall(pinned.contains)) return None
    val lits = schema.primaryKeys.map { k =>
      val dt = schema.fieldByName(k).sparkType
      Literal.create(
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToCatalyst(pinned(k)), dt)
    }
    Some(XxHash64(lits, 42L).eval(InternalRow.empty).asInstanceOf[Long])
  }

  /** (partition, bucket) groups a fully-pinned pk lookup can touch on a
    * CROSS_PARTITION table, resolved from the snapshot's global pk index
    * (every live row's location is indexed at the commit that added it —
    * see GraftTable.globalIndexDelta). At 100 TB a cross-partition point
    * lookup reads the index plus exactly the partitions that ever held the
    * key, instead of every partition of the key's bucket. Stale entries
    * only widen the set; Some(empty) = key provably absent.
    * None = not a pinned lookup, index disabled, or no index yet.
    */
  def crossPartitionGroups(spark: SparkSession, store: FileStore,
      schema: TableSchema, indexFiles: Seq[String], filters: Seq[Filter],
      shapes: ReadShapes = new ReadShapes(1)): Option[Set[(String, Int)]] = {
    if (!schema.globalIndexEnabled || indexFiles.isEmpty) return None
    pkXxHashFromFilters(schema, filters).map { h =>
      indexProbe(spark, store, indexFiles, Literal(h), StructType(Seq(
        StructField("__pt", StringType), StructField(GraftMeta.BucketCol, IntegerType))), shapes)
        .map(r => (r.getUTF8String(1).toString, r.getInt(2))).toSet // O(collisions)
    }
  }

  /** The set of buckets a pk-constraining predicate can touch: full-pk
    * equality pins one bucket; a single-column pk additionally prunes
    * through `IN` lists (each listed key hashes to its bucket — a
    * multi-key lookup on a 100-TB table reads at most |list| buckets), and
    * an OR of bounded sides (a composite-key batch lookup) touches the
    * union of their buckets. None = no pk constraint (all buckets).
    */
  def bucketsFromFilters(schema: TableSchema, filters: Seq[Filter]): Option[Set[Int]] = {
    if (!schema.hasBucketDirs) return None
    val n = schema.numBuckets
    // dynamic-bucket tables (n == -1) route by the durable hash index, not
    // a modulus — no static bucket pruning (partition/stats pruning still
    // applies)
    if (n <= 0) return None

    def bucketOf(vals: Seq[(String, Any)]): Int = {
      val lits = vals.map { case (k, v) =>
        val dt = schema.fieldByName(k).sparkType
        Literal.create(
          org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst(v), dt)
      }
      val h = Murmur3Hash(lits, 42).eval(InternalRow.empty).asInstanceOf[Int]
      ((h % n) + n) % n
    }

    // the buckets AND-ed `conjuncts` can touch
    def bounded(conjuncts: Seq[Filter]): Option[Set[Int]] = {
      // routing hashes schema.bucketKeys (full pk unless 'bucket-key'
      // narrows it) — pruning needs exactly those columns pinned
      val pinned = pinnedEqs(conjuncts)
      if (schema.bucketKeys.forall(pinned.contains))
        return Some(Set(bucketOf(schema.bucketKeys.map(k => k -> pinned(k)))))
      // single-column bucket key: any AND-ed IN list bounds the touched
      // buckets (null list entries match nothing, so dropping them is
      // exact); an OR bounds them when both sides do, as the union — the
      // shape of a composite-key batch lookup
      def bound(f: Filter): Option[Set[Int]] = f match {
        case SIn(c, vs) if schema.bucketKeys == Seq(c) =>
          Some(vs.toSeq.filter(_ != null).map(v => bucketOf(Seq(c -> v))).toSet)
        case SAnd(l, r) => bound(l).orElse(bound(r))
        case SOr(l, r) => for (a <- bounded(Seq(l)); b <- bounded(Seq(r))) yield a ++ b
        case _ => None
      }
      conjuncts.iterator.flatMap(bound).nextOption()
    }
    bounded(filters)
  }

  /** Spark partition-path string → Catalyst internal value. */
  def partitionValueToInternal(dt: DataType, s: String): Any = {
    if (s == PartitionPathUtils.NullPartitionValue) return null
    dt match {
      case StringType => UTF8String.fromString(s)
      case IntegerType => s.toInt
      case LongType => s.toLong
      case ShortType => s.toShort
      case ByteType => s.toByte
      case DoubleType => s.toDouble
      case FloatType => s.toFloat
      case BooleanType => s.toBoolean
      case DateType => java.time.LocalDate.parse(s).toEpochDay.toInt
      case TimestampType | TimestampNTZType =>
        val t = java.sql.Timestamp.valueOf(s)
        t.getTime * 1000L + (t.getNanos / 1000) % 1000
      case d: DecimalType =>
        org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(s), d.precision, d.scale)
      case other => throw new IllegalArgumentException(s"unsupported partition type $other")
    }
  }
}
