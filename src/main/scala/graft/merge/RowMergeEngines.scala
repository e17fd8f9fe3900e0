package graft.merge

import graft.GraftMeta
import graft.core.TableSchema
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData, TypeUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Executor-side merge engines over `InternalRow`s (reference:
  * MergeFunction.java:24-46 implementations) — the one merge
  * implementation behind both the DSv2 merge-on-read scan and every
  * compaction rewrite. Bucket files are pk-sorted, so a k-way merge +
  * per-key fold replaces any table-wide shuffle.
  *
  * @param schema      table schema (engine + per-field configuration)
  * @param rowSchema   layout of input rows (read columns ++ partition cols)
  * @param output      names of columns the merged row must produce; a
  *                    compaction rewrite also asks for the merge machinery
  *                    columns (seq, pos, kind, bucket)
  * @param dropDeletes drop keys whose final state is a delete (reads and
  *                    max-level rewrites); a rewrite below the max level
  *                    keeps the -D/-U survivor so it still cancels older
  *                    runs at read time (reference: MergeTreeCompactRewriter
  *                    dropDelete)
  */
class RowMerger(val schema: TableSchema, rowSchema: StructType, output: Seq[String],
    dropDeletes: Boolean = true) extends Serializable {
  import GraftMeta._

  private def idx(name: String): Int = rowSchema.fieldIndex(name)
  private def typ(name: String): DataType = rowSchema(idx(name)).dataType

  private val keyIdx: Array[Int] = schema.primaryKeys.map(idx).toArray
  private val keyTypes: Array[DataType] = schema.primaryKeys.map(typ).toArray
  @transient private lazy val keyOrds = keyTypes.map(TypeUtils.getInterpretedOrdering)
  private val seqI = idx(SeqCol)
  private val posI = idx(PosCol)
  private val kindI = idx(KindCol)
  private val seqFieldI: Int = schema.sequenceField.map(idx).getOrElse(-1)
  @transient private lazy val seqFieldOrd =
    schema.sequenceField.map(f => TypeUtils.getInterpretedOrdering(typ(f))).orNull

  private val outIdx: Array[Int] = output.map(idx).toArray
  private val outTypes: Array[DataType] = output.map(typ).toArray
  // key, partition and machinery columns come from the latest version
  // (seq/pos are then raised to the group maxima, see merge)
  private val isKeyOrPartition: Array[Boolean] = output.map(n =>
    schema.primaryKeys.contains(n) || schema.partitionKeys.contains(n) ||
      Seq(SeqCol, PosCol, KindCol, BucketCol).contains(n)).toArray
  private val outSeq = output.indexOf(SeqCol)
  private val outPos = output.indexOf(PosCol)

  /** Compare the merge key of two rows (ascending). */
  def compareKeys(a: InternalRow, b: InternalRow): Int = {
    var i = 0
    while (i < keyIdx.length) {
      val ai = a.isNullAt(keyIdx(i)); val bi = b.isNullAt(keyIdx(i))
      if (ai || bi) { if (!ai) return 1 else if (!bi) return -1 }
      else {
        val c = keyOrds(i).asInstanceOf[Ordering[Any]]
          .compare(a.get(keyIdx(i), keyTypes(i)), b.get(keyIdx(i), keyTypes(i)))
        if (c != 0) return c
      }
      i += 1
    }
    0
  }

  /** Version order of two rows: (sequence field, commit seq, position). */
  def compareOrd(a: InternalRow, b: InternalRow): Int = {
    if (seqFieldI >= 0) {
      val an = a.isNullAt(seqFieldI); val bn = b.isNullAt(seqFieldI)
      val c =
        if (an && bn) 0 else if (an) -1 else if (bn) 1
        else seqFieldOrd.asInstanceOf[Ordering[Any]].compare(
          a.get(seqFieldI, typ(schema.sequenceField.get)),
          b.get(seqFieldI, typ(schema.sequenceField.get)))
      if (c != 0) return c
    }
    val c1 = java.lang.Long.compare(a.getLong(seqI), b.getLong(seqI))
    if (c1 != 0) return c1
    java.lang.Long.compare(a.getLong(posI), b.getLong(posI))
  }

  private def isDeleteKind(k: Byte): Boolean =
    k == KindDelete || k == KindUpdateBefore

  /** Merge all versions of ONE key (any order) into the final row, or None
    * if the key's final state is a delete (and deletes are dropped). The
    * row's kind is that of the version deciding the key (the first one for
    * first-row, else the latest); its seq/pos are the group's maxima, so a
    * rewritten row out-versions everything it replaced.
    */
  def merge(allRows: mutable.ArrayBuffer[InternalRow]): Option[InternalRow] = {
    // ignore-delete: retracts written before the option was set (or by
    // older writers) still vanish at merge time (reference:
    // DeduplicateMergeFunction.java:50 checks ignoreDelete in add())
    val rows =
      if (!schema.ignoreDelete) allRows
      else allRows.filterNot(r => isDeleteKind(r.getByte(kindI)))
    if (rows.isEmpty) return None
    val latest = rows.maxBy(identity)(ordOrdering)
    val decider =
      if (schema.mergeEngine == "first-row") rows.minBy(identity)(ordOrdering) else latest
    if (dropDeletes && isDeleteKind(decider.getByte(kindI))) return None
    val out = schema.mergeEngine match {
      case "deduplicate" | "first-row" => picked(decider)
      case "partial-update" => partialUpdate(rows, latest)
      case "aggregation" => aggregation(rows, latest)
      case e => throw new IllegalArgumentException(s"unknown merge-engine: $e")
    }
    if (outSeq >= 0) out(outSeq) = rows.iterator.map(_.getLong(seqI)).max
    if (outPos >= 0) out(outPos) = rows.iterator.map(_.getLong(posI)).max
    Some(new GenericInternalRow(out))
  }

  /** One input row as stored, in the output layout: no fold. */
  def project(row: InternalRow): InternalRow = new GenericInternalRow(picked(row))

  private val ordOrdering: Ordering[InternalRow] =
    (a: InternalRow, b: InternalRow) => compareOrd(a, b)

  private def picked(row: InternalRow): Array[Any] = {
    val out = new Array[Any](outIdx.length)
    var i = 0
    while (i < outIdx.length) {
      out(i) = if (row.isNullAt(outIdx(i))) null else row.get(outIdx(i), outTypes(i))
      i += 1
    }
    out
  }

  // ---------------- partial-update ----------------

  /** field name -> ordering index of its sequence-group column (reference:
    * PartialUpdateMergeFunction SEQUENCE_GROUP:59).
    */
  private val seqGroupOf: Map[String, Int] = schema.options.toSeq.flatMap {
    case (k, fieldsCsv) if k.startsWith("fields.") && k.endsWith(".sequence-group") =>
      val seqCol = k.stripPrefix("fields.").stripSuffix(".sequence-group")
      fieldsCsv.split(",").map(_.trim).filter(_.nonEmpty).map(f => f -> idx(seqCol))
    case _ => Nil
  }.toMap

  private def compareGroupOrd(gi: Int, gt: DataType, a: InternalRow, b: InternalRow): Int = {
    val an = a.isNullAt(gi); val bn = b.isNullAt(gi)
    val c = if (an && bn) 0 else if (an) -1 else if (bn) 1
      else TypeUtils.getInterpretedOrdering(gt).asInstanceOf[Ordering[Any]]
        .compare(a.get(gi, gt), b.get(gi, gt))
    if (c != 0) c
    else {
      val c1 = java.lang.Long.compare(a.getLong(seqI), b.getLong(seqI))
      if (c1 != 0) c1 else java.lang.Long.compare(a.getLong(posI), b.getLong(posI))
    }
  }

  private def partialUpdate(rows: mutable.ArrayBuffer[InternalRow],
      latest: InternalRow): Array[Any] = {
    val out = new Array[Any](outIdx.length)
    var i = 0
    while (i < outIdx.length) {
      val ci = outIdx(i)
      if (isKeyOrPartition(i)) {
        out(i) = if (latest.isNullAt(ci)) null else latest.get(ci, outTypes(i))
      } else {
        // value of the max-ord row whose field is non-null
        var best: InternalRow = null
        val grp = seqGroupOf.get(output(i))
        rows.foreach { r =>
          if (!r.isNullAt(ci)) {
            val better = best == null || (grp match {
              case Some(gi) => compareGroupOrd(gi, rowSchema(gi).dataType, r, best) > 0
              case None => compareOrd(r, best) > 0
            })
            if (better) best = r
          }
        }
        out(i) = if (best == null) null else best.get(ci, outTypes(i))
      }
      i += 1
    }
    out
  }

  // ---------------- aggregation engine ----------------

  private def aggregation(rows: mutable.ArrayBuffer[InternalRow],
      latest: InternalRow): Array[Any] = {
    val sorted = rows.sorted(ordOrdering)
    val out = new Array[Any](outIdx.length)
    var i = 0
    while (i < outIdx.length) {
      val ci = outIdx(i)
      out(i) =
        if (isKeyOrPartition(i)) { if (latest.isNullAt(ci)) null else latest.get(ci, outTypes(i)) }
        else {
          val func = schema.options.getOrElse(
            TableSchema.aggFuncOpt(output(i)), "last_non_null_value")
          foldField(func, output(i), sorted, ci, outTypes(i))
        }
      i += 1
    }
    out
  }

  /** Fold one field over the version-ordered rows (reference:
    * aggregate/Field*Agg). Retractions: sum/count subtract -U/-D rows;
    * 'fields.<f>.ignore-retract' skips them (reference:
    * FieldIgnoreRetractAgg.java:22); other aggregators fold them as values
    * (a lenient divergence from the reference's throw).
    */
  private def foldField(func: String, fieldName: String,
      allSorted: mutable.ArrayBuffer[InternalRow], ci: Int, dt: DataType): Any = {
    val ignoreRetract =
      schema.options.get(s"fields.$fieldName.ignore-retract").exists(_.toBoolean)
    val sorted =
      if (ignoreRetract) allSorted.filterNot(r => isDeleteKind(r.getByte(kindI)))
      else allSorted
    def values: Iterator[Any] =
      sorted.iterator.map(r => if (r.isNullAt(ci)) null else r.get(ci, dt))
    def nonNull: Iterator[Any] = values.filter(_ != null)
    def retractOf(r: InternalRow): Boolean =
      !ignoreRetract && isDeleteKind(r.getByte(kindI))
    func match {
      case "last_value" =>
        if (sorted.isEmpty) null
        else { val r = sorted.last; if (r.isNullAt(ci)) null else r.get(ci, dt) }
      case "last_non_null_value" => nonNull.foldLeft(null: Any)((_, v) => v)
      case "first_value" =>
        if (sorted.isEmpty) null
        else { val r = sorted.head; if (r.isNullAt(ci)) null else r.get(ci, dt) }
      case "first_non_null_value" => nonNull.buffered.headOption.orNull
      case "max" =>
        val ord = TypeUtils.getInterpretedOrdering(dt).asInstanceOf[Ordering[Any]]
        nonNull.foldLeft(null: Any)((a, v) => if (a == null || ord.compare(v, a) > 0) v else a)
      case "min" =>
        val ord = TypeUtils.getInterpretedOrdering(dt).asInstanceOf[Ordering[Any]]
        nonNull.foldLeft(null: Any)((a, v) => if (a == null || ord.compare(v, a) < 0) v else a)
      case "count" =>
        sorted.iterator.filterNot(_.isNullAt(ci))
          .map(r => if (retractOf(r)) -1L else 1L).sum
      case "sum" =>
        sumFold(sorted.iterator.filterNot(_.isNullAt(ci)).map { r =>
          val v = r.get(ci, dt)
          if (retractOf(r)) negate(v, dt) else v
        }, dt)
      case "nested_update" =>
        val st = dt.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
        val keyNames = schema.options.getOrElse(s"fields.$fieldName.nested-key", "")
          .split(",").map(_.trim).filter(_.nonEmpty)
        require(keyNames.nonEmpty, s"nested_update needs 'fields.$fieldName.nested-key'")
        val keyIdxs = keyNames.map(st.fieldIndex)
        val acc = mutable.LinkedHashMap.empty[Seq[Any], Any]
        nonNull.foreach { v =>
          val arr = v.asInstanceOf[ArrayData]
          arr.foreach(st, (_, e) => if (e != null) { // skip null entries
            val row = e.asInstanceOf[InternalRow].copy()
            val key = keyIdxs.map(j => row.get(j, st(j).dataType)).toSeq
            acc.remove(key) // re-append: an update moves to the end
            acc.put(key, row)
          })
        }
        new GenericArrayData(acc.values.toArray)
      case "bool_and" => nonNull.foldLeft(null: Any)((a, v) =>
        if (a == null) v else java.lang.Boolean.valueOf(
          a.asInstanceOf[Boolean] && v.asInstanceOf[Boolean]))
      case "bool_or" => nonNull.foldLeft(null: Any)((a, v) =>
        if (a == null) v else java.lang.Boolean.valueOf(
          a.asInstanceOf[Boolean] || v.asInstanceOf[Boolean]))
      case "listagg" =>
        val parts = nonNull.map(_.asInstanceOf[UTF8String].toString).toSeq
        if (parts.isEmpty) null else UTF8String.fromString(parts.mkString(","))
      case "product" =>
        nonNull.foldLeft(null: Any) { (a, v) =>
          val d = numericToDouble(v, dt)
          if (a == null) d else java.lang.Double.valueOf(a.asInstanceOf[Double] * d)
        }
      case "collect" =>
        // concatenate arrays (dups kept unless the 'fields.<f>.distinct'
        // option), sort with nulls first for a deterministic result
        val elemType = dt.asInstanceOf[ArrayType].elementType
        val distinct = schema.options.get(s"fields.$fieldName.distinct").exists(_.toBoolean)
        val acc = mutable.ArrayBuffer.empty[Any]
        nonNull.foreach { v =>
          val arr = v.asInstanceOf[ArrayData]
          arr.foreach(elemType, (_, e) => acc += e)
        }
        val all = if (distinct) acc.distinct.toSeq else acc.toSeq
        val ord = TypeUtils.getInterpretedOrdering(elemType).asInstanceOf[Ordering[Any]]
        val (nulls, rest) = all.partition(_ == null)
        new GenericArrayData((nulls ++ rest.sorted(ord)).toArray)
      case "merge_map" =>
        val mt = dt.asInstanceOf[MapType]
        val acc = mutable.LinkedHashMap.empty[Any, Any]
        nonNull.foreach { v =>
          val m = v.asInstanceOf[MapData]
          val ks = m.keyArray; val vs = m.valueArray
          var i = 0
          while (i < m.numElements()) {
            acc.put(ks.get(i, mt.keyType), if (vs.isNullAt(i)) null else vs.get(i, mt.valueType))
            i += 1
          }
        }
        if (acc.isEmpty) null
        else ArrayBasedMapData(acc.keys.toArray, acc.values.toArray)
      case "rbm32" =>
        // serialized RoaringBitmap union (reference: FieldRoaringBitmap32Agg)
        val folded = nonNull.map(v => graft.functions.BitmapAgg
            .deserialize(v.asInstanceOf[Array[Byte]]))
          .reduceOption { (a, b) => a.or(b); a }
        folded.map(graft.functions.BitmapAgg.serialize).orNull
      case "rbm64" =>
        val folded = nonNull.map(v => graft.functions.BitmapAgg
            .deserialize64(v.asInstanceOf[Array[Byte]]))
          .reduceOption { (a, b) => a.or(b); a }
        folded.map(graft.functions.BitmapAgg.serialize64).orNull
      case "hll_sketch" =>
        nonNull.map(_.asInstanceOf[Array[Byte]])
          .reduceOption(graft.functions.Sketches.hllMerge).orNull
      case "theta_sketch" =>
        nonNull.map(v => graft.functions.Sketches
            .thetaDeserialize(v.asInstanceOf[Array[Byte]]))
          .reduceOption(graft.functions.Sketches.thetaMergeHashes)
          .map(graft.functions.Sketches.thetaSerialize).orNull
      case other => throw new IllegalArgumentException(s"unknown aggregate-function: $other")
    }
  }

  private def sumFold(vs: Iterator[Any], dt: DataType): Any = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      vs.foldLeft(null: Any)((a, v) => {
        val l = v match {
          case b: Byte => b.toLong; case s: Short => s.toLong
          case i: Int => i.toLong; case l: Long => l
        }
        if (a == null) java.lang.Long.valueOf(l)
        else java.lang.Long.valueOf(a.asInstanceOf[Long] + l)
      }) match {
        // keep the column's own declared type (Spark's typed sum would widen)
        case null => null
        case l: java.lang.Long => dt match {
          case LongType => l
          case IntegerType => java.lang.Integer.valueOf(l.toInt)
          case ShortType => java.lang.Short.valueOf(l.toShort)
          case ByteType => java.lang.Byte.valueOf(l.toByte)
        }
      }
    case FloatType | DoubleType =>
      vs.foldLeft(null: Any)((a, v) => {
        val d = numericToDouble(v, dt)
        if (a == null) java.lang.Double.valueOf(d)
        else java.lang.Double.valueOf(a.asInstanceOf[Double] + d)
      }) match {
        case null => null
        case d: java.lang.Double => dt match {
          case DoubleType => d
          case FloatType => java.lang.Float.valueOf(d.toFloat)
        }
      }
    case d: DecimalType =>
      vs.foldLeft(null: Any)((a, v) =>
        if (a == null) v
        else a.asInstanceOf[Decimal] + v.asInstanceOf[Decimal])
    case other => throw new IllegalArgumentException(s"sum over $other")
  }

  private def negate(v: Any, dt: DataType): Any = v match {
    case b: Byte => (-b).toByte; case s: Short => (-s).toShort
    case i: Int => -i; case l: Long => -l
    case f: Float => -f; case d: Double => -d
    case dec: Decimal => Decimal(dec.toBigDecimal.unary_-, dec.precision, dec.scale)
    case other => throw new IllegalArgumentException(s"cannot retract $other ($dt)")
  }

  private def numericToDouble(v: Any, dt: DataType): Double = v match {
    case b: Byte => b.toDouble; case s: Short => s.toDouble
    case i: Int => i.toDouble; case l: Long => l.toDouble
    case f: Float => f.toDouble; case d: Double => d
    case dec: Decimal => dec.toDouble
    case other => throw new IllegalArgumentException(s"not numeric: $other ($dt)")
  }
}

/** K-way merge of pk-sorted row iterators + per-key fold — the executor
  * core of bucket-local merge-on-read (reference: loser-tree merge in
  * SortMergeReaderWithLoserTree.java:34 + ReducerMergeFunctionWrapper:32 +
  * DropDeleteReader:33; a binary heap replaces the loser tree — k is the
  * run count of one bucket, single digits in practice).
  *
  * Input iterators MUST yield rows sorted by the merge key; rows need not
  * be sorted by version within a key (versions are folded, not streamed).
  */
class SortMergeRows(merger: RowMerger, inputs: Seq[Iterator[InternalRow]])
    extends Iterator[InternalRow] {

  private implicit val headOrd: Ordering[MergeRun] =
    (a: MergeRun, b: MergeRun) => -merger.compareKeys(a.row, b.row) // min-heap

  private val heap = mutable.PriorityQueue.empty[MergeRun]
  inputs.foreach { it =>
    if (it.hasNext) heap.enqueue(new MergeRun(merger, it.next(), it))
  }

  private val group = mutable.ArrayBuffer.empty[InternalRow]
  private var nextRow: InternalRow = _
  advance()

  private def advance(): Unit = {
    nextRow = null
    while (nextRow == null && heap.nonEmpty) {
      group.clear()
      val first = heap.dequeue()
      group += first.row
      if (first.it.hasNext) { first.advanceChecked(); heap.enqueue(first) }
      // pull every further row with the same key
      var same = true
      while (same && heap.nonEmpty) {
        if (merger.compareKeys(heap.head.row, group.head) == 0) {
          val h = heap.dequeue()
          group += h.row
          if (h.it.hasNext) { h.advanceChecked(); heap.enqueue(h) }
        } else same = false
      }
      merger.merge(group).foreach(nextRow = _)
    }
  }

  override def hasNext: Boolean = nextRow != null

  override def next(): InternalRow = {
    val r = nextRow
    advance()
    r
  }
}

/** One key-sorted input run of a k-way merge, at its current `row`;
  * `preImage` flags the runs a changelog fold compares against.
  */
private[merge] final class MergeRun(merger: RowMerger, var row: InternalRow,
    val it: Iterator[InternalRow], val preImage: Boolean = false) {
  /** Advance this run, FAILING LOUDLY on an out-of-order row: an
    * unsorted run makes the heap merge silently miss key matches and
    * resurrect stale versions — at scale that is corruption with no
    * symptom (a planned-write regression produced exactly this before
    * the staging write pinned its ordering; see WriteOrderSpec). One
    * extra key compare per row, dwarfed by the heap's own O(log k).
    */
  def advanceChecked(): Unit = {
    val prev = row
    row = it.next()
    require(merger.compareKeys(row, prev) >= 0,
      "merge input run is not key-sorted: a data file was written out of " +
        "key order (staging-write ordering regression?) — refusing to " +
        "merge, stale row versions would silently survive. Compaction " +
        "merges through this same path and refuses too. Repair: roll the " +
        "table back to a snapshot before the bad write (CALL sys.rollback) " +
        "and re-write that data")
  }
}

/** The exact changelog of a k-way merge, a second consumer of the runs
  * next to [[SortMergeRows]] (reference: FullChangelogMergeFunctionWrapper,
  * LookupChangelogMergeFunctionWrapper compare each key's pre-image with
  * its merged result). `runs` flag which inputs form the pre-image. Per
  * key, the before image is either the merge of the pre-image rows that
  * `keep` admits (`storedPreImage = false`, the lookup producer) or each
  * pre-image row as stored, read before `keep` (`true`, full compaction's
  * top level); the after image is the merge of every row `keep` admits.
  *  - a key with an after image only emits +I; one with a before image
  *    only emits -D;
  *  - otherwise a -U/+U pair, when the non-key field values differ (`<=>`
  *    on their structs) or the key is touched — one of its rows, kept or
  *    not, comes from outside the pre-image — unless the table sets
  *    `changelog-producer.row-deduplicate`.
  * Rows come out in the merger's output layout, which must hold the seq,
  * pos, kind and bucket columns (`outSchema`): kind set, seq = `seq`, pos
  * 0 for -U and 1 otherwise, bucket that of the image.
  */
class ChangelogMergeRows(merger: RowMerger, outSchema: StructType,
    runs: Seq[(Iterator[InternalRow], Boolean)], storedPreImage: Boolean, seq: Long,
    keep: InternalRow => Boolean) extends Iterator[InternalRow] {
  import GraftMeta._

  private val schema = merger.schema
  private val kindO = outSchema.fieldIndex(KindCol)
  private val seqO = outSchema.fieldIndex(SeqCol)
  private val posO = outSchema.fieldIndex(PosCol)
  private val valueO: Array[Int] = schema.fields.map(_.name)
    .filterNot(schema.primaryKeys.contains).map(outSchema.fieldIndex).toArray
  private lazy val valueOrds: Array[Ordering[Any]] = valueO.map(i =>
    TypeUtils.getInterpretedOrdering(outSchema(i).dataType).asInstanceOf[Ordering[Any]])
  private val dedupUntouched = schema.changelogRowDeduplicate

  private implicit val headOrd: Ordering[MergeRun] =
    (a: MergeRun, b: MergeRun) => -merger.compareKeys(a.row, b.row) // min-heap

  private val heap = mutable.PriorityQueue.empty[MergeRun]
  runs.foreach { case (it, pre) =>
    if (it.hasNext) heap.enqueue(new MergeRun(merger, it.next(), it, pre))
  }

  private val all = mutable.ArrayBuffer.empty[InternalRow]
  private val pre = mutable.ArrayBuffer.empty[InternalRow]
  private val pending = mutable.Queue.empty[InternalRow]

  private def sameValues(a: InternalRow, b: InternalRow): Boolean = {
    var i = 0
    while (i < valueO.length) {
      val o = valueO(i)
      val an = a.isNullAt(o); val bn = b.isNullAt(o)
      if (an != bn) return false
      if (!an && !valueOrds(i).equiv(a.get(o, outSchema(o).dataType),
          b.get(o, outSchema(o).dataType))) return false
      i += 1
    }
    true
  }

  private def emit(r: InternalRow, kind: Byte): Unit = {
    r.update(kindO, kind)
    r.update(seqO, seq)
    r.update(posO, if (kind == KindUpdateBefore) 0L else 1L)
    pending += r
  }

  /** Fold keys until one emits or the runs are drained. */
  private def fill(): Unit = while (pending.isEmpty && heap.nonEmpty) {
    all.clear(); pre.clear()
    var touched = false
    val first = heap.dequeue()
    def take(h: MergeRun): Unit = {
      all += h.row
      if (h.preImage) pre += h.row else touched = true
      if (h.it.hasNext) { h.advanceChecked(); heap.enqueue(h) }
    }
    take(first)
    while (heap.nonEmpty && merger.compareKeys(heap.head.row, all.head) == 0)
      take(heap.dequeue())
    val before: Seq[InternalRow] =
      if (storedPreImage) pre.map(merger.project).toSeq
      else merger.merge(pre.filter(keep)).toSeq
    merger.merge(all.filter(keep)) match {
      case None => before.foreach(emit(_, KindDelete))
      case Some(after) if before.isEmpty => emit(after, KindInsert)
      case Some(after) => before.foreach { b =>
        if ((touched && !dedupUntouched) || !sameValues(b, after)) {
          emit(b, KindUpdateBefore)
          emit(after, KindUpdateAfter)
        }
      }
    }
  }

  override def hasNext: Boolean = { fill(); pending.nonEmpty }

  override def next(): InternalRow = { fill(); pending.dequeue() }
}
