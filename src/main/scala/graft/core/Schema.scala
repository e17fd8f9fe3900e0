package graft.core

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.types._

/** A field with a persistent numeric id — ids, not names/positions, are the
  * identity under schema evolution (reference: paimon-common
  * org/apache/paimon/types/DataField.java).
  */
case class Field(id: Int, name: String, dataType: String,
    nullable: Boolean = true, nested: Seq[Field] = Nil,
    comment: Option[String] = None) {
  /** For struct fields with per-child ids (`nested` non-empty) the Spark
    * type derives from the children — evolution rewrites children, and the
    * type must follow; the `dataType` string is kept in sync for display.
    * Flat fields (and structs created before nested ids existed) parse
    * their DDL string.
    */
  def sparkType: DataType =
    if (nested.nonEmpty) StructType(nested.map(_.toStructField))
    else if (charVarcharSpec.isDefined) StringType // §1.2: length at write
    // defense in depth: a persisted DDL string carrying NESTED
    // char/varchar (pre-fix tables) must still yield a runtime schema
    // Spark accepts — Column.cast rejects char/varchar-bearing types
    else org.apache.spark.sql.catalyst.util.CharVarcharUtils
      .replaceCharVarcharWithString(DataType.fromDDL(dataType))

  /** Declared CHAR/VARCHAR constraint, if any: (isChar, length). The
    * SURVEY §1.2 mapping stores these as StringType + write-time length
    * semantics (reference: paimon-common schema/SchemaValidation.java
    * validates declared lengths); the declared form survives in
    * `dataType` and is enforced by the write path's align.
    */
  def charVarcharSpec: Option[(Boolean, Int)] = dataType match {
    case Field.CharVarcharRe(kind, len) =>
      Some((kind.equalsIgnoreCase("char"), len.toInt))
    case _ => None
  }

  def toStructField: StructField = {
    val mb = new MetadataBuilder().putLong(Field.FieldIdKey, id.toLong)
    // Spark's raw-type metadata key: DESCRIBE shows the declared type and
    // Spark's own char/varchar rules (write-side length check, read-side
    // literal padding in comparisons) see it on catalog tables
    if (charVarcharSpec.isDefined)
      mb.putString(Field.CharVarcharKey, dataType.toLowerCase)
    val f = StructField(name, sparkType, nullable, mb.build())
    comment.map(f.withComment).getOrElse(f)
  }
  /** This field + all nested descendants (id-uniqueness domain). */
  def selfAndDescendants: Seq[Field] = this +: nested.flatMap(_.selfAndDescendants)
}

object Field {
  val FieldIdKey = "graft.field.id"
  /** Spark's CharVarcharUtils raw-type metadata key (the form catalog
    * schemas carry after Spark replaces char/varchar with string). */
  val CharVarcharKey = "__CHAR_VARCHAR_TYPE_STRING"
  private[core] val CharVarcharRe =
    "(?i)^\\s*(char|varchar)\\s*\\(\\s*(\\d+)\\s*\\)\\s*$".r
}

/** Versioned table schema (reference: paimon-core
  * org/apache/paimon/schema/TableSchema.java:47-72): numbered fields,
  * partition keys, primary keys, free-form options. Stored as JSON under
  * `schema/schema-<id>.json`.
  */
case class TableSchema(
    id: Long,
    fields: Seq[Field],
    highestFieldId: Int,
    partitionKeys: Seq[String],
    primaryKeys: Seq[String],
    options: Map[String, String]) {

  def structType: StructType = StructType(fields.map(_.toStructField))

  /** Non-partition fields, in declared order (the columns physically stored
    * in data files — partition values live in the directory structure).
    */
  def dataFields: Seq[Field] = fields.filterNot(f => partitionKeys.contains(f.name))

  def fieldByName(name: String): Field = fields.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(s"no such field: $name"))

  def option(key: String, default: String): String = options.getOrElse(key, default)

  def numBuckets: Int = option(TableSchema.BucketOpt, "8").toInt

  /** Columns the fixed-bucket hash routes on (reference: CoreOptions
    * `bucket-key`, BUCKET_KEY :169). Defaults to the full primary key; an
    * explicit subset lets a table bucket on its JOIN key — two tables
    * bucketed on the same key equi-join storage-partitioned, zero
    * exchanges, even when their full primary keys differ.
    */
  def bucketKeys: Seq[String] =
    options.get(TableSchema.BucketKeyOpt).map(TableSchema.columnList).getOrElse(primaryKeys)

  /** Drop retraction records (-U/-D) at write AND merge time — the CDC
    * ingest switch for streams whose deletes must not reach the table
    * (reference: CoreOptions IGNORE_DELETE :314, with the per-engine
    * legacy keys `<merge-engine>.ignore-delete` as fallback aliases).
    */
  def ignoreDelete: Boolean =
    Seq("ignore-delete", s"$mergeEngine.ignore-delete")
      .exists(k => option(k, "false").toBoolean)

  /** The configured `changelog-producer`, parsed; `none` when unset. */
  def changelogProducer: ChangelogProducer =
    options.get(TableSchema.ChangelogProducerOpt).map(ChangelogProducer.parse)
      .getOrElse(ChangelogProducer.Off)

  /** Suppress -U/+U changelog pairs whose before and after images are
    * identical (reference: CoreOptions "changelog-producer.row-deduplicate",
    * default false — a touched-but-unchanged key still emits its pair).
    */
  def changelogRowDeduplicate: Boolean =
    option("changelog-producer.row-deduplicate", "false").toBoolean

  /** `bucket = -1`: HASH_DYNAMIC mode — buckets are assigned per key by a
    * durable pk-hash → bucket index and grow with the data instead of being
    * fixed at CREATE (reference: BucketMode.HASH_DYNAMIC,
    * index/HashBucketAssigner.java:37).
    */
  def dynamicBucket: Boolean = isPrimaryKeyed && numBuckets == -1

  /** Bucketed APPEND table — BucketMode.HASH_FIXED on a non-pk table
    * (reference: AppendOnlyFileStore.java:67-69 — `bucket` + `bucket-key`
    * on an append-only table): rows route by hash(bucket-key) % bucket,
    * reads prune by bucket, and two tables bucketed on the same join key
    * storage-partition-join with zero exchanges — the co-located-join
    * layout for append FACT tables. Opt-in via an explicit `bucket-key`
    * (without it an append table stays BUCKET_UNAWARE, bucket-0 only).
    */
  def appendBucketed: Boolean =
    !isPrimaryKeyed && options.contains(TableSchema.BucketKeyOpt)

  /** Tables whose physical layout has bucket directories (every PK table,
    * plus bucketed append tables). */
  def hasBucketDirs: Boolean = isPrimaryKeyed || appendBucketed

  /** Rows per dynamic bucket before the assigner opens a new one
    * (reference: CoreOptions "dynamic-bucket.target-row-num", default 2M).
    */
  def dynamicBucketTargetRows: Long =
    option("dynamic-bucket.target-row-num", "2000000").toLong

  /** Parallelism of new-key assignment: keys shard by hash across this many
    * independent assigners, each owning buckets ≡ shard (mod N) — so
    * assigning a billion new keys is N parallel sorts, not one (reference:
    * CoreOptions "dynamic-bucket.assigner-parallelism",
    * HashBucketAssigner ownership rule).
    */
  def dynamicBucketAssigners: Int =
    option("dynamic-bucket.assigner-parallelism", "8").toInt
  def defaultValueOf(field: String): Option[String] =
    options.get(TableSchema.defaultValueOpt(field))
  /** Data file format: parquet (default), orc, or avro (reference:
    * paimon-format supports orc/parquet/avro; avro here is the engine's own
    * `FileFormat` over the avro-core jars — see GraftAvroFileFormat). */
  def fileFormat: String = option("file.format", "parquet") match {
    case f @ ("parquet" | "orc" | "avro") => f
    case other => throw new IllegalArgumentException(s"unsupported file.format: $other")
  }
  /** Per-LSM-level file format override, "0:avro,5:parquet" (reference:
    * CoreOptions FILE_FORMAT_PER_LEVEL :144 — the classic LSM shape: a
    * row-oriented format for short-lived L0 runs where write latency
    * dominates, columnar for the long-lived compacted base where scans
    * dominate). Levels not listed use [[fileFormat]].
    */
  def fileFormatPerLevel: Map[Int, String] =
    options.get("file.format.per.level").map { spec =>
      spec.split(',').iterator.map(_.split(':')).map {
        case Array(l, f) => l.trim.toInt -> f.trim
        case other => throw new IllegalArgumentException(
          s"bad file.format.per.level entry: ${other.mkString(":")}")
      }.toMap
    }.getOrElse(Map.empty)

  def fileFormatForLevel(level: Int): String =
    fileFormatPerLevel.getOrElse(level, fileFormat)

  /** Stats-collection mode for a column (reference: CoreOptions
    * METADATA_STATS_MODE :941-966 + per-field `fields.<name>.stats-mode`):
    * `none` (no stats — the write never measures the column, manifests stay
    * lean, scans never skip on it), `counts` (null count only), `full`
    * (untruncated min/max — exact bounds for long keys), `truncate(N)`.
    * Default truncate(64), this engine's historical string cap (the
    * reference defaults to truncate(16)). Returns (mode, truncate length).
    */
  def statsMode(field: String): (String, Int) = {
    val raw = options.getOrElse(s"fields.$field.stats-mode",
      option("metadata.stats-mode", "truncate(64)"))
    TableSchema.parseStatsMode(raw)
  }

  def mergeEngine: String = option(TableSchema.MergeEngineOpt, "deduplicate")
  def sequenceField: Option[String] = options.get(TableSchema.SequenceFieldOpt)
  def isPrimaryKeyed: Boolean = primaryKeys.nonEmpty
  /** Primary key does not pin the partition: a key may move between
    * partitions across upserts, so merging groups by (bucket, pk) across
    * partitions (reference: CROSS_PARTITION bucket mode,
    * crosspartition/GlobalIndexAssigner — ours resolves by merge instead of
    * a global index).
    */
  def crossPartition: Boolean =
    isPrimaryKeyed && !partitionKeys.forall(primaryKeys.contains)

  /** Persisted global pk→(partition, bucket) index for CROSS_PARTITION
    * tables (reference: crosspartition/GlobalIndexAssigner.java:76 — there
    * a RocksDB assigner bound to one writer; here a parquet index joined
    * distributively). Bounds the `lookup`-changelog pre-image read to the
    * partitions that ever held a touched key instead of every partition of
    * each touched bucket. Maintained from the table's FIRST commit, so
    * the flag is create-time only (see SchemaEvolution.setOption).
    */
  def globalIndexEnabled: Boolean =
    crossPartition && option("cross-partition.index.enabled", "true").toBoolean

  /** Deletion-vector mode for PK tables (reference: CoreOptions
    * DELETION_VECTORS_ENABLED, "deletion-vectors.enabled"): upserts
    * MASK superseded rows in existing files via per-file bitmaps instead
    * of relying on merge-on-read, so scans are raw + DV — vectorized, no
    * k-way merge, value-predicate file skipping and parquet pushdown on
    * DV-free files all legal. The write pays the mask lookup; the read
    * becomes an append-table read.
    */
  def deletionVectors: Boolean =
    isPrimaryKeyed && option("deletion-vectors.enabled", "false").toBoolean

  /** Record-level TTL: (time field name, expire seconds). Expiration is
    * applied on COMPACTION rewrites only — best-effort, no guarantee of
    * timely expiry; plain reads still see expired rows until a compaction
    * touches their bucket (reference: io/RecordLevelExpire.java:40-91,
    * CoreOptions "record-level.expire-time"). The time field holds
    * seconds-since-epoch as INT, as in the reference.
    */
  def recordLevelExpire: Option[(String, Long)] =
    options.get("record-level.expire-time").map { d =>
      val tf = options.getOrElse("record-level.time-field", throw
        new IllegalArgumentException(
          "record-level.expire-time requires 'record-level.time-field' " +
            "(a seconds-epoch INT column)"))
      (tf, TableSchema.parseDurationMillis(d) / 1000)
    }

  /** Changelog lifecycle decoupled from snapshots: with either retention
    * option set, snapshot expiration preserves expired snapshots' changelog
    * under `changelog/` instead of deleting it, and
    * `expireChangelogs()` applies `changelog.num-retained.min/max` +
    * `changelog.time-retained` on its own schedule (reference:
    * CoreOptions.changelogLifecycleDecoupled, ExpireChangelogImpl.java).
    */
  def changelogDecoupled: Boolean =
    options.contains("changelog.num-retained.max") ||
      options.contains("changelog.time-retained")

  /** CREATE-ONLY checks, on top of [[validate]] — rejections that must not
    * re-run on evolved schemas (validate() runs on every schema version,
    * and partition keys can never change, so re-rejecting one here would
    * leave a pre-existing table permanently un-alterable).
    */
  def validateCreate(): Unit = {
    validate()
    // CHAR partition keys: the write side right-pads CHAR values to fixed
    // width (charVarcharWriteSide), so a CHAR partition key would bake
    // trailing spaces into partition directory names and static-partition
    // specs — fragile on path round-trips and surprising in overwrite
    // specs (reference: SchemaValidation-style create-time rejects).
    // VARCHAR doesn't pad and is fine.
    partitionKeys.foreach { k =>
      fields.find(_.name == k).foreach { f =>
        f.charVarcharSpec.foreach { case (isChar, n) =>
          require(!isChar,
            s"partition key '$k' has type char($n): CHAR right-pads " +
              "values to the declared width, so partition paths would " +
              "carry trailing spaces; use varchar or string partition keys")
        }
      }
    }
  }

  /** Create-time option validation (reference: schema/SchemaValidation.java
    * :174-530 — the combinations the reference rejects outright).
    */
  def validate(): Unit = {
    // create-time format check with an actionable message — without it, a
    // typo'd `file.format` would only fail deep in the first read/write
    options.get("file.format").foreach {
      case "parquet" | "orc" | "avro" => ()
      case other => throw new IllegalArgumentException(
        s"unsupported file.format: $other (expected parquet, orc or avro)")
    }
    fileFormatPerLevel.foreach { case (l, f) =>
      require(l >= 0, s"file.format.per.level level must be >= 0, got $l")
      require(f == "parquet" || f == "orc" || f == "avro",
        s"unsupported file.format.per.level format: $f (expected parquet, orc or avro)")
    }
    // eager stats-mode parse: a typo must fail DDL, not the first write
    options.get("metadata.stats-mode").foreach(TableSchema.parseStatsMode)
    options.keys.filter(k => k.startsWith("fields.") && k.endsWith(".stats-mode"))
      .foreach { k =>
        val f = k.stripPrefix("fields.").stripSuffix(".stats-mode")
        require(fields.exists(_.name == f), s"$k: no such field '$f'")
        TableSchema.parseStatsMode(options(k))
      }
    // eager parse: a typo must fail DDL, not behave as `input`
    val producer = changelogProducer
    if (mergeEngine == "first-row") {
      require(producer == ChangelogProducer.Off || producer == ChangelogProducer.Lookup,
        s"first-row supports changelog-producer none or lookup, not ${producer.name}")
      require(sequenceField.isEmpty,
        "sequence.field is not supported with the first-row merge engine")
    }
    sequenceField.foreach { sf =>
      require(fields.exists(_.name == sf), s"sequence field '$sf' not in schema")
      require(!options.contains(TableSchema.aggFuncOpt(sf)),
        s"must not define an aggregation on sequence field '$sf'")
      require(!crossPartition,
        "sequence.field is not supported with cross-partition update")
    }
    options.get(TableSchema.BucketKeyOpt).foreach { _ =>
      require(bucketKeys.nonEmpty, "bucket-key must name at least one column")
      val missing = bucketKeys.filterNot(n => fields.exists(_.name == n))
      require(missing.isEmpty,
        s"bucket-key columns not in schema: ${missing.mkString(",")}")
      if (isPrimaryKeyed) {
        // reference: SchemaValidation — for pk tables the bucket key must be
        // a subset of the primary key (every write/lookup/join path derives
        // the bucket from values it is guaranteed to have)
        val stray = bucketKeys.filterNot(primaryKeys.contains)
        require(stray.isEmpty,
          s"bucket-key must be a subset of the primary key; not in pk: ${stray.mkString(",")}")
        require(!dynamicBucket,
          "bucket-key is incompatible with dynamic buckets (bucket=-1): the " +
            "durable index routes by full-pk hash")
      } else {
        // bucketed append table (reference: BucketMode.HASH_FIXED on the
        // append store; SchemaValidation keeps bucket keys disjoint from
        // partition keys — a partition column is constant per directory,
        // hashing it adds nothing and breaks cross-partition join layout)
        require(numBuckets >= 1,
          s"bucketed append table needs a fixed bucket count >= 1, got $numBuckets")
        val inPt = bucketKeys.filter(partitionKeys.contains)
        require(inPt.isEmpty,
          s"bucket-key must not contain partition columns: ${inPt.mkString(",")}")
      }
    }
    // commit.callbacks classes must resolve at DDL time: an unloadable
    // class discovered only at first commit would surface AFTER the commit
    // is durable, reading as a failed write that actually landed
    options.get("commit.callbacks").foreach {
      _.split(',').map(_.trim).filter(_.nonEmpty).foreach { cls =>
        val c = try Class.forName(cls) catch {
          case _: ClassNotFoundException => throw new IllegalArgumentException(
            s"commit.callbacks: class not found: $cls")
        }
        require(classOf[graft.core.CommitCallback].isAssignableFrom(c),
          s"commit.callbacks: $cls does not implement graft.core.CommitCallback")
        require(c.getConstructors.exists(_.getParameterCount == 0),
          s"commit.callbacks: $cls needs a public no-arg constructor")
      }
    }
    recordLevelExpire.foreach { case (tf, _) =>
      // reference: RecordLevelExpire.create — pk table, INT seconds field
      require(isPrimaryKeyed,
        "record-level.expire-time targets primary-key tables")
      val f = fields.find(_.name == tf).getOrElse(throw
        new IllegalArgumentException(
          s"record-level.time-field '$tf' not in schema"))
      require(f.sparkType == org.apache.spark.sql.types.IntegerType,
        s"record-level.time-field must be INT (seconds epoch), '$tf' is ${f.dataType}")
    }
    validateDeletionVectors()
  }

  /** Validity constraints for deletion-vector mode (create-time). */
  def validateDeletionVectors(): Unit = if (deletionVectors) {
    require(fileFormat == "parquet",
      "deletion-vectors.enabled needs parquet (dense row_index)")
    require(fileFormatPerLevel.values.forall(_ == "parquet"),
      "deletion-vectors.enabled needs parquet at every level " +
        "(file.format.per.level must not introduce other formats)")
    require(mergeEngine == "deduplicate",
      s"deletion-vectors.enabled supports merge-engine=deduplicate, not $mergeEngine")
    require(sequenceField.isEmpty,
      "deletion-vectors.enabled is ordered by commit time; sequence.field unsupported")
    require(!crossPartition,
      "deletion-vectors.enabled requires partition keys contained in the primary key")
    val producer = changelogProducer
    // lookup works: its changelog is computed at write time in one merge
    // read of the touched buckets, whose pre-image files the committing
    // batch has not masked yet (reference pairs dv with the lookup producer)
    require(producer == ChangelogProducer.Off || producer == ChangelogProducer.Lookup,
      s"deletion-vectors.enabled does not support changelog-producer=${producer.name}")
  }

  def toJson: String = {
    val root = Json.obj()
    root.put("id", id)
    root.put("highestFieldId", highestFieldId)
    def writeFields(arr: com.fasterxml.jackson.databind.node.ArrayNode,
        fs0: Seq[Field]): Unit = fs0.foreach { f =>
      val fn = arr.addObject()
      fn.put("id", f.id); fn.put("name", f.name)
      fn.put("type", f.dataType); fn.put("nullable", f.nullable)
      f.comment.foreach(fn.put("comment", _))
      if (f.nested.nonEmpty) writeFields(fn.putArray("fields"), f.nested)
    }
    writeFields(root.putArray("fields"), fields)
    val pk = root.putArray("primaryKeys"); primaryKeys.foreach(pk.add)
    val pt = root.putArray("partitionKeys"); partitionKeys.foreach(pt.add)
    val opt = root.putObject("options")
    options.toSeq.sortBy(_._1).foreach { case (k, v) => opt.put(k, v) }
    Json.write(root)
  }
}

/** How a primary-key table produces its changelog (reference: CoreOptions
  * CHANGELOG_PRODUCER). `none` and `input` both stream the level-0 input
  * files; `lookup` and `full-compaction` write exact -U/+U/-D changelog
  * files, at each commit or at each full compaction.
  */
sealed abstract class ChangelogProducer(val name: String) {
  /** Whether a snapshot's changelog is its own changelog files. */
  def writesFiles: Boolean =
    this == ChangelogProducer.Lookup || this == ChangelogProducer.FullCompaction
}

object ChangelogProducer {
  case object Off extends ChangelogProducer("none")
  case object Input extends ChangelogProducer("input")
  case object Lookup extends ChangelogProducer("lookup")
  case object FullCompaction extends ChangelogProducer("full-compaction")
  val all: Seq[ChangelogProducer] = Seq(Off, Input, Lookup, FullCompaction)

  def parse(s: String): ChangelogProducer = all.find(_.name == s.trim).getOrElse(
    throw new IllegalArgumentException(s"unsupported changelog-producer: $s " +
      s"(expected ${all.map(_.name).mkString(", ")})"))
}

object TableSchema {
  /** The column names of a comma-separated list option (`primary-key`,
    * `bucket-key`, ...): trimmed, empty entries dropped.
    */
  def columnList(csv: String): Seq[String] =
    csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  val BucketOpt = "bucket"
  val BucketKeyOpt = "bucket-key"
  val MergeEngineOpt = "merge-engine"
  val SequenceFieldOpt = "sequence.field"
  val ChangelogProducerOpt = "changelog-producer"
  val TargetFileSizeOpt = "write.target-file-size"
  /** fields.<name>.aggregate-function = sum|max|min|last_value|... */
  def aggFuncOpt(field: String) = s"fields.$field.aggregate-function"
  /** fields.<name>.default-value = literal filled for NULLs at read
    * (reference: DefaultValueAssigner.java:48). */
  def defaultValueOpt(field: String) = s"fields.$field.default-value"
  /** fields.<seqCol>.sequence-group = a,b,c  (partial-update sequence groups) */
  def seqGroupOpt(field: String) = s"fields.$field.sequence-group"

  /** Parse a duration option value: plain millis, or `<n><unit>` with unit
    * ms/s/m/h/d (e.g. "30m", "7d"), whitespace tolerated.
    */
  private val TruncateMode = """truncate\((\d+)\)""".r

  /** "none" | "counts" | "full" | "truncate(N)" → (mode, truncate length). */
  def parseStatsMode(s: String): (String, Int) = s.trim match {
    case "none" => ("none", 0)
    case "counts" => ("counts", 0)
    case "full" => ("full", 0)
    case TruncateMode(n) =>
      val len = n.toInt
      require(len > 0, s"stats-mode truncate length must be > 0: $s")
      ("truncate", len)
    case other => throw new IllegalArgumentException(
      s"unsupported stats-mode: $other (expected none, counts, full or truncate(N))")
  }

  def parseDurationMillis(s: String): Long = {
    val t = s.trim.toLowerCase
    val m = "^(\\d+)\\s*(ms|s|m|h|d)?$".r
    t match {
      case m(n, unit) =>
        val mult = unit match {
          case null | "ms" => 1L
          case "s" => 1000L
          case "m" => 60L * 1000
          case "h" => 3600L * 1000
          case "d" => 24L * 3600 * 1000
        }
        n.toLong * mult
      case _ => throw new IllegalArgumentException(s"bad duration: '$s'")
    }
  }

  /** Parse a memory-size option value: plain bytes, or `<n><unit>` with
    * unit b/kb/mb/gb (e.g. "128mb"), case-insensitive, whitespace tolerated
    * (reference: MemorySize.parse, used by CoreOptions size options).
    */
  def parseBytes(s: String): Long = {
    val t = s.trim.toLowerCase
    val m = "^(\\d+)\\s*(b|kb|mb|gb)?$".r
    t match {
      case m(n, unit) =>
        val mult = unit match {
          case null | "b" => 1L
          case "kb" => 1024L
          case "mb" => 1024L * 1024
          case "gb" => 1024L * 1024 * 1024
        }
        n.toLong * mult
      case _ => throw new IllegalArgumentException(s"bad size: '$s'")
    }
  }

  def fromJson(s: String): TableSchema = {
    val n = Json.parse(s)
    def readFields(arr: JsonNode): Seq[Field] = Json.elems(arr).map { fn =>
      Field(fn.get("id").asInt(), fn.get("name").asText(),
        fn.get("type").asText(), fn.get("nullable").asBoolean(true),
        if (fn.has("fields")) readFields(fn.get("fields")) else Nil,
        if (fn.has("comment")) Some(fn.get("comment").asText()) else None)
    }
    val fields = readFields(n.get("fields"))
    TableSchema(
      n.get("id").asLong(),
      fields,
      n.get("highestFieldId").asInt(),
      Json.elems(n.get("partitionKeys")).map(_.asText()),
      Json.elems(n.get("primaryKeys")).map(_.asText()),
      Json.fields(n.get("options")).map { case (k, v) => k -> v.asText() }.toMap)
  }

  /** Build a schema-0 from a Spark StructType. Top-level fields keep ids
    * 0..n-1 (stable vs pre-nested-id schemas); struct CHILDREN then get
    * their own persistent ids n.. depth-first (reference: DataField nested
    * RowTypes carry per-child field ids, the identity nested evolution
    * remaps by — SchemaEvolutionUtil.createDataProjection handles nested
    * projections the same way).
    */
  def create(
      st: StructType,
      partitionKeys: Seq[String] = Nil,
      primaryKeys: Seq[String] = Nil,
      options: Map[String, String] = Map.empty): TableSchema = {
    var nextId = st.fields.length
    // the DECLARED type: a TOP-LEVEL CHAR/VARCHAR survives either as the
    // type itself (spark.sql.preserveCharVarcharTypeInfo=true) or as
    // Spark's raw-type metadata after the string replacement — keep the
    // declared form so the write path can enforce the length (SURVEY §1.2
    // mapping). Char/varchar NESTED inside array/map/struct is stripped to
    // string (lengths there are not enforced): adopting the raw nested
    // form would resurrect Char/VarcharType via fromDDL on read and break
    // every write (Column.cast rejects char/varchar-bearing types).
    def declaredType(f: StructField): String = f.dataType match {
      case t @ (_: CharType | _: VarcharType) => t.sql
      case t =>
        val raw = if (f.metadata.contains(Field.CharVarcharKey))
          Some(f.metadata.getString(Field.CharVarcharKey)) else None
        raw match {
          case Some(Field.CharVarcharRe(_, _)) => raw.get // bare top-level
          case _ =>
            org.apache.spark.sql.catalyst.util.CharVarcharUtils
              .replaceCharVarcharWithString(t).sql
        }
    }
    def childFields(t: DataType): Seq[Field] = t match {
      case s: StructType => s.fields.toSeq.map { c =>
        val cid = nextId
        nextId += 1
        Field(cid, c.name, declaredType(c), c.nullable, childFields(c.dataType))
      }
      case _ => Nil
    }
    val fields = st.fields.zipWithIndex.map { case (f, i) =>
      Field(i, f.name, declaredType(f), f.nullable, childFields(f.dataType),
        f.getComment())
    }.toSeq
    val unknown = (partitionKeys ++ primaryKeys).filterNot(st.fieldNames.contains)
    require(unknown.isEmpty, s"keys not in schema: ${unknown.mkString(",")}")
    TableSchema(0L, fields, nextId - 1, partitionKeys, primaryKeys, options)
  }
}
