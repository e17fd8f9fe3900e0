package graft.spark.v2

import graft.core._
import graft.spark.GraftFileIndex
import graft.table.GraftTable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate._
import org.apache.spark.sql.connector.read.LocalScan
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Metadata-only aggregate pushdown: COUNT(*) / COUNT(col) / MIN / MAX —
  * optionally grouped by partition columns — answered from manifest file
  * stats without reading ANY data file. At a 100-TB table this turns
  * `SELECT count(*)` from a full scan into an O(manifests) driver fold,
  * the same metadata pass every scan already pays for planning.
  *
  * Soundness gates (any miss → no pushdown, normal scan runs):
  *  - append tables only (merge-on-read changes row counts);
  *  - filters must be EXACTLY-decidable partition predicates (evaluated
  *    per file against its partition values — never the best-effort stats
  *    "might match");
  *  - MIN/MAX only on non-string atomic types (string stats are
  *    truncated bounds, not exact extremes) with no deletion vectors and
  *    no read-time default values, on files of the CURRENT schema id
  *    (older ids key stats by a possibly-renamed field name);
  *  - COUNT(col) additionally needs per-file null counts; COUNT(*) only
  *    needs live row counts so it tolerates DVs and old schemas.
  */
object GraftAggPushdown {

  sealed trait AggSpec
  case object CountStarSpec extends AggSpec
  case class CountColSpec(col: String) extends AggSpec
  case class MinSpec(col: String) extends AggSpec
  case class MaxSpec(col: String) extends AggSpec

  /** Try to plan the aggregation entirely from metadata. Returns the scan
    * output (group columns first, then aggregates, positionally — the
    * contract of complete DSv2 aggregate pushdown) or None.
    */
  def plan(table: GraftTable, snapshot: Option[Snapshot], filters: Seq[Filter],
      agg: Aggregation): Option[(StructType, Array[InternalRow])] = {
    val schema = table.schema
    if (schema.isPrimaryKeyed) return None
    if (!filters.forall(exactPartitionFilter(schema, _))) return None

    val groupCols: Seq[String] = agg.groupByExpressions.toSeq.map {
      case nr: NamedReference if nr.fieldNames.length == 1 &&
          schema.partitionKeys.contains(nr.fieldNames()(0)) =>
        nr.fieldNames()(0)
      case _ => return None
    }

    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 &&
            schema.fields.exists(_.name == nr.fieldNames()(0)) =>
          Some(nr.fieldNames()(0))
        case _ => None
      }
    def minMaxType(c: String): Boolean = schema.fieldByName(c).sparkType match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | _: DecimalType | BooleanType | DateType |
           TimestampType | TimestampNTZType => true
      case _ => false // strings: stats are truncated bounds, not extremes
    }
    def statSafe(c: String): Boolean =
      minMaxType(c) && schema.defaultValueOf(c).isEmpty &&
        !schema.partitionKeys.contains(c)

    val specs: Seq[AggSpec] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => CountStarSpec
      case c: Count if !c.isDistinct =>
        colOf(c.column) match {
          case Some(n) if schema.defaultValueOf(n).isEmpty => CountColSpec(n)
          case _ => return None
        }
      case m: Min =>
        colOf(m.column) match {
          case Some(n) if statSafe(n) => MinSpec(n)
          case _ => return None
        }
      case m: Max =>
        colOf(m.column) match {
          case Some(n) if statSafe(n) => MaxSpec(n)
          case _ => return None
        }
      case _ => return None
    }
    if (specs.isEmpty) return None

    compute(table, snapshot, filters, groupCols, specs)
  }

  /** Only predicate shapes whose per-file partition evaluation is EXACT
    * (`Pruning.partitionMatches` falls back to "keep the file" on anything
    * it cannot compare — fine for pruning, fatal for a metadata answer).
    * Also the gate for CONSUMING a filter in pushFilters: such predicates
    * are fully enforced by file-level partition pruning.
    */
  def exactlyDecidable(schema: TableSchema, f: Filter): Boolean =
    exactPartitionFilter(schema, f)

  private def exactPartitionFilter(schema: TableSchema, f: Filter): Boolean = {
    val partKeys = schema.partitionKeys
    def typ(c: String) = schema.fields.find(_.name == c).map(_.sparkType)
    def comparableCol(c: String) = partKeys.contains(c) && typ(c).exists {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | _: DecimalType | StringType | BooleanType |
           DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    def litOk(c: String, v: Any) =
      v != null && typ(c).exists(t => StatsCodec.literal(t, v).isDefined)
    f match {
      case And(l, r) => exactPartitionFilter(schema, l) && exactPartitionFilter(schema, r)
      case Or(l, r) => exactPartitionFilter(schema, l) && exactPartitionFilter(schema, r)
      case EqualTo(c, v) => comparableCol(c) && litOk(c, v)
      case GreaterThan(c, v) => comparableCol(c) && litOk(c, v)
      case GreaterThanOrEqual(c, v) => comparableCol(c) && litOk(c, v)
      case LessThan(c, v) => comparableCol(c) && litOk(c, v)
      case LessThanOrEqual(c, v) => comparableCol(c) && litOk(c, v)
      case In(c, vs) => comparableCol(c) && vs.forall(litOk(c, _))
      case IsNull(c) => partKeys.contains(c)
      case IsNotNull(c) => partKeys.contains(c)
      case _ => false
    }
  }

  private def compute(table: GraftTable, snapshot: Option[Snapshot],
      filters: Seq[Filter], groupCols: Seq[String], specs: Seq[AggSpec])
      : Option[(StructType, Array[InternalRow])] = {
    val schema = table.schema
    val partKeys = schema.partitionKeys
    val typeOf: String => Option[DataType] =
      n => schema.fields.find(_.name == n).map(_.sparkType)

    val snap = snapshot.orElse(table.store.latestSnapshot)
    val files: Seq[DataFileMeta] = snap match {
      case None => Nil
      case Some(s) =>
        val keep = Pruning.partitionKeep(filters, partKeys, typeOf)
        table.store.liveFiles(s).filter(f => keep(f.partition))
    }

    // per-file feasibility for the requested aggregates
    val needsExactRows = specs.exists { case CountStarSpec => false; case _ => true }
    val ok = files.forall { f =>
      (!needsExactRows || (f.dvCount == 0L && f.schemaId == schema.id)) &&
        specs.forall {
          case MinSpec(c) => statKnown(f, c)
          case MaxSpec(c) => statKnown(f, c)
          case CountColSpec(c) => f.stats.contains(c)
          case CountStarSpec => true
        }
    }
    if (!ok) return None

    val outFields =
      groupCols.map(c => StructField(c, schema.fieldByName(c).sparkType)) ++
        specs.zipWithIndex.map {
          case (CountStarSpec, i) => StructField(s"agg$i", LongType, nullable = false)
          case (CountColSpec(_), i) => StructField(s"agg$i", LongType, nullable = false)
          case (MinSpec(c), i) => StructField(s"agg$i", schema.fieldByName(c).sparkType)
          case (MaxSpec(c), i) => StructField(s"agg$i", schema.fieldByName(c).sparkType)
        }
    val outSchema = StructType(outFields)

    val groupIdx = groupCols.map(partKeys.indexOf)
    val groups: Seq[(Seq[String], Seq[DataFileMeta])] =
      if (groupCols.isEmpty) Seq(Nil -> files)
      else files.groupBy(f => groupIdx.map(f.partition)).toSeq.map {
        case (k, fs) => (k, fs)
      }
    // global aggregation over an empty table still yields one row
    if (groups.isEmpty && groupCols.nonEmpty) return Some((outSchema, Array.empty))

    val rows = groups.map { case (key, fs) =>
      val vals = new Array[Any](outSchema.length)
      groupIdx.indices.foreach { i =>
        vals(i) = GraftFileIndex.partitionValueToInternal(
          schema.fieldByName(groupCols(i)).sparkType, key(i))
      }
      specs.zipWithIndex.foreach { case (spec, i) =>
        vals(groupCols.length + i) = spec match {
          case CountStarSpec => fs.map(_.liveRowCount).sum
          case CountColSpec(c) => fs.map(f => f.rowCount - f.stats(c).nullCount).sum
          case MinSpec(c) => foldExtreme(schema, fs, c, isMin = true)
          case MaxSpec(c) => foldExtreme(schema, fs, c, isMin = false)
        }
      }
      new GenericInternalRow(vals): InternalRow
    }
    Some((outSchema, rows.toArray))
  }

  /** A file serves min/max for `c` iff the bound is present, or the column
    * is entirely null there (then it contributes nothing).
    */
  private def statKnown(f: DataFileMeta, c: String): Boolean =
    f.stats.get(c).exists(s =>
      (s.min.isDefined && s.max.isDefined) || s.nullCount == f.rowCount)

  private def foldExtreme(schema: TableSchema, fs: Seq[DataFileMeta], c: String,
      isMin: Boolean): Any = {
    val dt = schema.fieldByName(c).sparkType
    val bounds = fs.flatMap { f =>
      val s = f.stats(c)
      (if (isMin) s.min else s.max).flatMap(b => StatsCodec.toComparable(dt, b).map(_ -> b))
    }
    if (bounds.isEmpty) null // every row null (or no files)
    else {
      val (winner, raw) = bounds.reduce { (a, b) =>
        val cpr = a._1.compareTo(b._1)
        if ((isMin && cpr <= 0) || (!isMin && cpr >= 0)) a else b
      }
      // comparable domain → Catalyst internal value; floating point from
      // the stored string, which keeps the sign of a zero
      (winner: Any, dt) match {
        case (l: java.lang.Long, ByteType) => l.toByte
        case (l: java.lang.Long, ShortType) => l.toShort
        case (l: java.lang.Long, IntegerType | DateType) => l.toInt
        case (l: java.lang.Long, _) => l.longValue()
        case (_: java.lang.Double, FloatType) => raw.toFloat
        case (_: java.lang.Double, _) => raw.toDouble
        case (b: java.math.BigDecimal, d: DecimalType) =>
          org.apache.spark.sql.types.Decimal(b, d.precision, d.scale)
        case (b: java.lang.Boolean, _) => b.booleanValue()
        case _ => null // unreachable for the admitted types
      }
    }
  }
}

/** The pushed-aggregate result as a driver-local DSv2 scan — Spark plans a
  * LocalTableScan, so the physical plan provably reads zero data files.
  */
case class GraftLocalAggScan(outSchema: StructType, resultRows: Array[InternalRow],
    location: String) extends LocalScan {
  override def readSchema(): StructType = outSchema
  override def rows(): Array[InternalRow] = resultRows
  override def description(): String = s"GraftAggPushdown $location"
}
