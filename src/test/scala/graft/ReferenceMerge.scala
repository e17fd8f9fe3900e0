package graft

import graft.core.{Snapshot, TableSchema}
import graft.functions.{BitmapAgg, ExpressionEncoders, Sketches}
import graft.table.GraftTable
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.roaringbitmap.RoaringBitmap

/** TEST ORACLE: the DataFrame group-merge fold that compaction used before
  * every production merge moved onto the executor-side k-way merge
  * (graft.merge.RowMerger / SortMergeRows). It is an independent
  * implementation of the same merge semantics — hash aggregates instead of
  * a per-key row fold — so specs compare the production read and
  * compaction against it; an oracle running RowMerger itself would be
  * blind to RowMerger's own bugs.
  *
  * The original design notes follow.
  *
  * Merge-on-read engines for primary-key tables.
  *
  * Reference semantics: paimon-core org/apache/paimon/mergetree/compact/
  * MergeFunction.java:24-46 and its implementations (DeduplicateMergeFunction,
  * FirstRowMergeFunction, PartialUpdateMergeFunction, AggregateMergeFunction).
  *
  * Spark-first design: instead of a row-at-a-time merge function inside a
  * k-way file merge, each engine is expressed as a hash aggregation over
  * (partition, bucket, primary key). This gives map-side partial aggregation
  * (rows collapse to ~unique keys before the shuffle) and whole-stage codegen
  * — the shuffle cost is bounded by the number of live keys, not input rows,
  * which is the property that matters at 100 TB. Bucket-local merging without
  * any shuffle is the phase-2 optimization (files are already bucketed and
  * pk-sorted on disk).
  *
  * Ordering: rows are versioned by (user sequence field if configured, commit
  * sequence) — out-of-order input is handled by version comparison, not
  * event-time windows (reference: CoreOptions "sequence.field":535).
  */
object ReferenceMerge {
  import graft.GraftMeta._

  /** The ordering struct used to pick row versions. The within-commit
    * position breaks intra-batch ties deterministically (later input wins,
    * reference: MergeTreeWriter.java:139 per-row sequence numbers).
    */
  def ordering(schema: TableSchema): Column = {
    val cols = schema.sequenceField.toSeq.map(col) ++ Seq(col(SeqCol), col(PosCol))
    struct(cols: _*)
  }

  /** Apply the configured merge engine. Input: raw file rows with meta
    * columns (SeqCol, KindCol) plus partition/bucket columns. Output: merged
    * rows, one per live key, meta columns dropped, deletes removed.
    */
  def merge(schema: TableSchema, raw: DataFrame, bucketCol: String): DataFrame =
    mergeRaw(schema, raw, bucketCol)
      .filter(col(KindCol) =!= lit(KindDelete) && col(KindCol) =!= lit(KindUpdateBefore))
      .select(schema.fields.map(f => col(f.name)): _*)

  /** Like [[merge]] but keeps the merged `KindCol`/`SeqCol`/bucket columns and
    * does not drop deletes — compaction uses this to rewrite state.
    */
  def mergeRaw(schema: TableSchema, raw: DataFrame, bucketCol: String): DataFrame = {
    // cross-partition keys merge across partitions: partition columns are
    // carried values (the winner's partition), not group keys
    // .distinct: primary keys CONTAIN the partition keys on a standard
    // partitioned PK table — without it the merge output carried duplicate
    // partition columns and compaction's partitioned write failed
    val groupCols =
      (if (schema.crossPartition) bucketCol +: schema.primaryKeys
      else (schema.partitionKeys :+ bucketCol) ++ schema.primaryKeys).distinct
    val ord = ordering(schema)
    // ignore-delete: retracts written before the option was set (or by
    // older writers) still vanish at merge time (reference:
    // DeduplicateMergeFunction.java:50 checks ignoreDelete in add())
    val input =
      if (!schema.ignoreDelete) raw
      else raw.filter(col(KindCol) =!= lit(KindDelete) &&
        col(KindCol) =!= lit(KindUpdateBefore))
    val merged = schema.mergeEngine match {
      case "deduplicate" => dedup(schema, input, groupCols, ord, first = false)
      case "first-row" => dedup(schema, input, groupCols, ord, first = true)
      case "partial-update" => partialUpdate(schema, input, groupCols, ord)
      case "aggregation" => aggregation(schema, input, groupCols, ord)
      case e => throw new IllegalArgumentException(s"unknown merge-engine: $e")
    }
    // pin every schema column back to its DECLARED type: Spark's typed
    // aggregates widen (sum(decimal(10,2)) → decimal(20,2), sum(int) →
    // bigint), which would violate the table schema downstream and poison
    // compaction rewrites (staged parquet in the widened type fails the
    // declared-schema read). The row-merge path keeps declared types, so
    // this also keeps the two paths bit-identical.
    val byName = schema.fields.map(f => f.name -> f).toMap
    merged.select(merged.columns.toSeq.map { c =>
      byName.get(c) match {
        case Some(f) if merged.schema(c).dataType != f.sparkType =>
          col(c).cast(f.sparkType).as(c)
        case _ => col(c)
      }
    }: _*)
  }

  /** Values (non-group) fields we must carry through the merge. */
  private def valueFields(schema: TableSchema): Seq[String] = {
    val group =
      if (schema.crossPartition) schema.primaryKeys.toSet
      else (schema.partitionKeys ++ schema.primaryKeys).toSet
    schema.fields.map(_.name).filterNot(group.contains)
  }

  /** deduplicate / first-row: keep the row with max (resp. min) version
    * (reference: DeduplicateMergeFunction.java:31, FirstRowMergeFunction.java:33).
    * Implemented as max_by/min_by over a struct of all carried fields — a
    * single hash aggregate, no window sort.
    */
  private def dedup(schema: TableSchema, raw: DataFrame, groupCols: Seq[String],
      ord: Column, first: Boolean): DataFrame = {
    val carried = valueFields(schema) :+ KindCol
    val packed = struct(carried.map(col): _*)
    val picked = if (first) min_by(packed, ord) else max_by(packed, ord)
    raw.groupBy(groupCols.map(col): _*)
      .agg(picked.as("__r"), max(col(SeqCol)).as(SeqCol), max(col(PosCol)).as(PosCol))
      .select((groupCols.map(col) :+ col(SeqCol) :+ col(PosCol)) ++
        carried.map(f => col(s"__r.$f").as(f)): _*)
  }

  /** partial-update: per-field last-non-null overlay in version order
    * (reference: PartialUpdateMergeFunction.java:57). Sequence groups — a
    * subset of fields versioned by their own sequence column — use that
    * column as the primary version for their fields
    * (reference: SEQUENCE_GROUP handling, ibid.:59).
    */
  private def partialUpdate(schema: TableSchema, raw: DataFrame,
      groupCols: Seq[String], ord: Column): DataFrame = {
    // field -> its sequence-group ordering (if any)
    val groupOf: Map[String, Column] = schema.options.collect {
      case (k, fieldsCsv) if k.startsWith("fields.") && k.endsWith(".sequence-group") =>
        val seqCol = k.stripPrefix("fields.").stripSuffix(".sequence-group")
        // (group sequence, commit seq, in-batch position) — the position
        // breaks intra-batch ties exactly like the row path's
        // compareGroupOrd, keeping both merge paths deterministic and equal
        fieldsCsv.split(",").map(_.trim).map(f =>
          f -> struct(col(seqCol), col(SeqCol), col(PosCol))).toSeq
    }.flatten.toMap
    val aggs = valueFields(schema).map { f =>
      val o = groupOf.getOrElse(f, ord)
      max_by(col(f), when(col(f).isNotNull, o)).as(f)
    } ++ Seq(
      // a key is deleted only if the latest version is a DELETE
      max_by(col(KindCol), ord).as(KindCol),
      max(col(SeqCol)).as(SeqCol),
      max(col(PosCol)).as(PosCol))
    raw.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** aggregation engine: per-field aggregate chosen by
    * 'fields.<f>.aggregate-function' (reference: AggregateMergeFunction.java +
    * aggregate/FieldAggregator.java:43-120). Default: last_non_null_value.
    *
    * Retractions (-U/-D kinds): `sum`/`count` subtract them; a field marked
    * 'fields.<f>.ignore-retract' = true skips them entirely (reference:
    * FieldIgnoreRetractAgg.java:22); other aggregators fold them as values
    * (lenient divergence from the reference's throw — documented).
    */
  private def aggregation(schema: TableSchema, raw: DataFrame,
      groupCols: Seq[String], ord: Column): DataFrame = {
    val retract = col(KindCol) === lit(KindDelete) || col(KindCol) === lit(KindUpdateBefore)
    val aggs = valueFields(schema).map { f =>
      val func = schema.options.getOrElse(TableSchema.aggFuncOpt(f), "last_non_null_value")
      val ignoreRetract =
        schema.options.get(s"fields.$f.ignore-retract").exists(_.toBoolean)
      val c0 = col(f)
      val c = if (ignoreRetract) when(!retract, c0) else c0
      val ddl = schema.fieldByName(f).dataType
      func match {
        case "sum" if !ignoreRetract =>
          sum(when(retract, -c0).otherwise(c0)).as(f)
        case "count" if !ignoreRetract =>
          coalesce(sum(when(c0.isNotNull, when(retract, -1L).otherwise(1L))
            .otherwise(0L)), lit(0L)).as(f)
        case "nested_update" => nestedUpdate(schema, f, c, ord).as(f)
        case "collect" =>
          // arrays CONCATENATE per key (reference: FieldCollectAgg — dups
          // kept unless 'fields.<f>.distinct'); sorted nulls-first for a
          // deterministic result the row path reproduces
          val es = flatten(collect_list(c))
          val distinct = schema.options.get(s"fields.$f.distinct").exists(_.toBoolean)
          sort_array(if (distinct) array_distinct(es) else es).as(f)
        case _ => fieldAggregate(func, c, ord, ddl).as(f)
      }
    } ++ Seq(
      max_by(col(KindCol), ord).as(KindCol),
      max(col(SeqCol)).as(SeqCol),
      max(col(PosCol)).as(PosCol))
    raw.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** `nested_update`: the field is an array of rows upserted by a nested key
    * (option 'fields.<f>.nested-key' = csv of struct fields). Incoming
    * arrays fold in version order; a row replaces the prior row with the
    * same nested key and moves to the end — one hash aggregate, no UDF
    * (reference: FieldNestedUpdateAgg.java:45).
    */
  private def nestedUpdate(schema: TableSchema, f: String, c: Column,
      ord: Column): Column = {
    val keys = schema.options.getOrElse(s"fields.$f.nested-key", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(keys.nonEmpty, s"nested_update needs 'fields.$f.nested-key'")
    val ddl = schema.fieldByName(f).dataType
    // collect_list skips null entries, so sorted holds only real versions
    val sorted = array_sort(collect_list(when(c.isNotNull, struct(ord.as("o"), c.as("v")))))
    // drop null ELEMENTS inside each array too (row path skips them as well)
    val rows = filter(flatten(transform(sorted, x => x("v"))), e => e.isNotNull)
    aggregate(rows, array().cast(ddl), (acc, r) =>
      concat(filter(acc, e => !keys.map(k => e(k) <=> r(k)).reduce(_ && _)), array(r)))
  }

  /** Key/value type DDL of a `map<k, v>` DDL string (top-level comma split). */
  private def keyTypeOf(mapDdl: String): String = splitMapDdl(mapDdl)._1
  private def valueTypeOf(mapDdl: String): String = splitMapDdl(mapDdl)._2
  private def splitMapDdl(mapDdl: String): (String, String) = {
    val t = mapDdl.trim
    require(t.length > 5 && t.take(4).equalsIgnoreCase("map<") && t.endsWith(">"),
      s"not a map DDL: $mapDdl")
    val inner = t.drop(4).dropRight(1)
    var depth = 0
    val i = inner.indexWhere {
      case '<' => depth += 1; false
      case '>' => depth -= 1; false
      case ',' => depth == 0
      case _ => false
    }
    require(i > 0, s"not a map DDL: $mapDdl")
    (inner.take(i).trim, inner.drop(i + 1).trim)
  }

  /** One per-field aggregator (reference: mergetree/compact/aggregate/Field*Agg).
    * @param ddl the field's data type (DDL string) — needed for typed zeros.
    */
  def fieldAggregate(func: String, c: Column, ord: Column, ddl: String = "string"): Column = func match {
    case "sum" => sum(c)
    case "count" => count(c)
    case "max" => max(c)
    case "min" => min(c)
    case "last_value" => max_by(c, ord)
    case "last_non_null_value" => max_by(c, when(c.isNotNull, ord))
    case "first_value" => min_by(c, ord)
    case "first_non_null_value" => min_by(c, when(c.isNotNull, ord))
    case "bool_and" => bool_and(c)
    case "bool_or" => bool_or(c)
    case "listagg" =>
      // version-ordered, null-skipping listagg: sort (ord, value) pairs then join
      array_join(
        transform(
          array_sort(collect_list(when(c.isNotNull, struct(ord.as("o"), c.as("v"))))),
          x => x("v")),
        ",")
    case "collect" =>
      // array-valued inputs concatenate; deterministic via sort (the
      // aggregation engine adds the 'fields.<f>.distinct' option on top)
      sort_array(flatten(collect_list(c)))
    case "merge_map" =>
      // fold maps in version order, later keys replacing earlier ones —
      // expressed over the ENTRY array (replace-then-append, like
      // nested_update) so it never constructs a duplicate-keyed map and is
      // independent of spark.sql.mapKeyDedupPolicy (whose EXCEPTION
      // default would make a map_concat fold throw for real sessions)
      // comparator form: a struct CONTAINING a map is not orderable, so
      // sort by the version struct alone
      val sorted = array_sort(
        collect_list(when(c.isNotNull, struct(ord.as("o"), c.as("v")))),
        (l, r) => when(l("o") < r("o"), -1).when(l("o") > r("o"), 1).otherwise(0))
      val entries = flatten(transform(sorted, x => map_entries(x("v"))))
      val entryType = s"array<struct<key:${keyTypeOf(ddl)},value:${valueTypeOf(ddl)}>>"
      map_from_entries(aggregate(entries, expr(s"cast(array() as $entryType)"),
        (acc, e) => concat(filter(acc, a => !(a("key") <=> e("key"))), array(e))))
    case "product" =>
      aggregate(collect_list(c.cast("double")), lit(1.0d), (acc, x) => acc * x)
    // serialized RoaringBitmap metrics union per key (reference:
    // FieldRoaringBitmap32Agg.java / FieldRoaringBitmap64Agg.java)
    case "rbm32" => BitmapOrAgg.or(c)
    case "rbm64" => Bitmap64OrAgg.or(c)
    // distinct-count sketch unions (reference: FieldHllSketchAgg.java /
    // FieldThetaSketchAgg.java; self-contained algorithms, see Sketches)
    case "hll_sketch" => HllUnionAgg.union(c)
    case "theta_sketch" => ThetaUnionAgg.union(c)
    case other => throw new IllegalArgumentException(s"unknown aggregate-function: $other")
  }

  /** Reference read of a PK snapshot: the fold over the raw snapshot rows
    * (deletion-vector tables: raw rows minus -D tombstones, DVs already
    * masked), with read-time defaults applied.
    */
  def read(t: GraftTable, s: Snapshot): DataFrame = {
    val sch = t.schema
    val raw = ReferenceRawRead.rawSnapshot(t, s, sch)
    ReferenceRawRead.applyDefaults(t,
      if (sch.deletionVectors)
        raw.filter(col(KindCol) =!= lit(KindDelete))
          .select(sch.fields.map(f => col(f.name)): _*)
      else merge(sch, raw, BucketCol))
  }
}

/** OR-merge of pre-serialized 32-bit RoaringBitmap blobs — the `rbm32`
  * field aggregator (reference: FieldRoaringBitmap32Agg.java): rows carry
  * bitmap-typed metrics (e.g. visitor-id sets) as binary columns and the
  * merge engine unions them per key. Null inputs are identity.
  */
object BitmapOrAgg extends Aggregator[Array[Byte], RoaringBitmap, Array[Byte]] {
  override def zero: RoaringBitmap = new RoaringBitmap()
  override def reduce(b: RoaringBitmap, bytes: Array[Byte]): RoaringBitmap = {
    if (bytes != null) b.or(BitmapAgg.deserialize(bytes))
    b
  }
  override def merge(a: RoaringBitmap, b: RoaringBitmap): RoaringBitmap = { a.or(b); a }
  override def finish(b: RoaringBitmap): Array[Byte] = BitmapAgg.serialize(b)
  override def bufferEncoder: Encoder[RoaringBitmap] = Encoders.kryo[RoaringBitmap]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY

  def or(bitmaps: Column): Column = udaf(BitmapOrAgg, Encoders.BINARY).apply(bitmaps)
}

/** OR-merge of serialized 64-bit Roaring64NavigableMap blobs — the `rbm64`
  * field aggregator (reference: FieldRoaringBitmap64Agg.java).
  */
object Bitmap64OrAgg extends Aggregator[Array[Byte],
    org.roaringbitmap.longlong.Roaring64NavigableMap, Array[Byte]] {
  import org.roaringbitmap.longlong.Roaring64NavigableMap

  override def zero: Roaring64NavigableMap = new Roaring64NavigableMap()
  override def reduce(b: Roaring64NavigableMap, bytes: Array[Byte]): Roaring64NavigableMap = {
    if (bytes != null) b.or(BitmapAgg.deserialize64(bytes))
    b
  }
  override def merge(a: Roaring64NavigableMap,
      b: Roaring64NavigableMap): Roaring64NavigableMap = { a.or(b); a }
  override def finish(b: Roaring64NavigableMap): Array[Byte] = BitmapAgg.serialize64(b)
  override def bufferEncoder: Encoder[Roaring64NavigableMap] =
    Encoders.kryo[Roaring64NavigableMap]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY

  def or(bitmaps: Column): Column = udaf(Bitmap64OrAgg, Encoders.BINARY).apply(bitmaps)
}

/** Union serialized HLL sketches — the `hll_sketch` field aggregator's
  * reference fold.
  */
object HllUnionAgg extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
  override def zero: Array[Byte] = Sketches.hllEmpty()
  override def reduce(b: Array[Byte], v: Array[Byte]): Array[Byte] =
    if (v == null) b else Sketches.hllMerge(b, v)
  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = Sketches.hllMerge(a, b)
  override def finish(b: Array[Byte]): Array[Byte] = b
  override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY

  def union(c: Column): Column = udaf(HllUnionAgg, Encoders.BINARY).apply(c)
}

/** Union serialized theta sketches — the `theta_sketch` field aggregator's
  * reference fold.
  */
object ThetaUnionAgg extends Aggregator[Array[Byte], Array[Long], Array[Byte]] {
  override def zero: Array[Long] = Array.emptyLongArray
  override def reduce(b: Array[Long], v: Array[Byte]): Array[Long] =
    if (v == null) b else Sketches.thetaMergeHashes(b, Sketches.thetaDeserialize(v))
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    Sketches.thetaMergeHashes(a, b)
  override def finish(b: Array[Long]): Array[Byte] = Sketches.thetaSerialize(b)
  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoders.longArray
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY

  def union(c: Column): Column = udaf(ThetaUnionAgg, Encoders.BINARY).apply(c)
}
