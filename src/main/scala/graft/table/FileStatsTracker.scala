package graft.table

import graft.core.{ColStats, StatsCodec}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Stats of one written file: `relPath` is the file's path under the
  * write's output directory (partition dirs + file name — Spark names the
  * files of one task identically across partition dirs).
  */
final case class WrittenFileStats(relPath: String, rowCount: Long,
    stats: Map[String, ColStats], blooms: Map[String, Array[Byte]])

/** One measured data column: its ordinal among the written data columns
  * and its `stats-mode` — ("counts", _) keeps the null count only,
  * ("full", _) exact bounds, ("truncate", n) string bounds of at most n
  * code points.
  */
final case class StatColumn(name: String, ordinal: Int, dataType: DataType,
    mode: (String, Int))

/** Per-file stats gathered inside the writer task (reference: Paimon's
  * writers fill `SimpleStats` through one `SimpleStatsCollector` while they
  * write). Spark's `FileFormatWriter` hands every row of every file to the
  * task tracker; the per-file results travel back in the task commit
  * messages and land in [[files]] on the driver — no second job, no footer
  * reads, one value domain for every file format.
  *
  * Values compare in Catalyst's internal domain under Spark's own ordering
  * per type (UTF-8 byte order for strings, -0.0 == 0.0 and NaN greatest for
  * floating point), then encode through [[StatsCodec.encode]].
  */
final class FileStatsTracker(
    statCols: Seq[StatColumn],
    bloomCols: Seq[(String, Int, DataType)],
    bloomBits: Long,
    dirDepth: Int) extends WriteJobStatsTracker {

  @transient private var collected: Seq[WrittenFileStats] = Nil

  /** Stats of every file the job wrote (driver side, after the write). */
  def files: Seq[WrittenFileStats] = collected

  override def newTaskInstance(): WriteTaskStatsTracker = new TaskTracker

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    collected = stats.flatMap { case FileStatsTracker.TaskFiles(fs) => fs }

  private final class TaskTracker extends WriteTaskStatsTracker {
    private val open = scala.collection.mutable.HashMap.empty[String, FileAcc]
    private val done = Seq.newBuilder[WrittenFileStats]
    private var curPath: String = _
    private var cur: FileAcc = _

    override def newPartition(partitionValues: InternalRow): Unit = ()

    override def newFile(filePath: String): Unit = {
      val segs = filePath.split('/')
      open(filePath) = new FileAcc(segs.takeRight(dirDepth + 1).mkString("/"))
    }

    override def newRow(filePath: String, row: InternalRow): Unit = {
      if (filePath ne curPath) { cur = open(filePath); curPath = filePath }
      cur.update(row)
    }

    override def closeFile(filePath: String): Unit = {
      open.remove(filePath).foreach(done += _.result)
      if (filePath == curPath) { curPath = null; cur = null }
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
      open.values.foreach(done += _.result)
      open.clear()
      FileStatsTracker.TaskFiles(done.result())
    }
  }

  private final class FileAcc(relPath: String) {
    private var rows = 0L
    private val cols = statCols.map(new ColumnAcc(_)).toArray
    private val blooms = bloomCols.map { case (_, i, dt) =>
      (i, dt, InternalRow.getAccessor(dt), BloomFilter.create(bloomBits / 16, bloomBits))
    }.toArray

    def update(row: InternalRow): Unit = {
      rows += 1
      var i = 0
      while (i < cols.length) { cols(i).update(row); i += 1 }
      i = 0
      while (i < blooms.length) {
        val (ord, dt, get, bf) = blooms(i)
        // xxhash64 with seed 42, as the driver-side probe computes it; a
        // null hashes to the seed
        bf.putLong(XxHash64Function.hash(get(row, ord), dt, 42L))
        i += 1
      }
    }

    def result: WrittenFileStats = WrittenFileStats(relPath, rows,
      cols.map(c => c.col.name -> c.result).toMap,
      bloomCols.iterator.zip(blooms.iterator).map { case ((n, _, _), b) =>
        n -> BloomFilterAggregate.serialize(b._4)
      }.toMap)
  }

  private final class ColumnAcc(val col: StatColumn) {
    private val dt = col.dataType
    private val get = InternalRow.getAccessor(dt)
    private val ord = TypeUtils.getInterpretedOrdering(dt)
    private val bounded = col.mode._1 != "counts"
    private val cap = if (col.mode._1 == "truncate") col.mode._2 else -1
    private var nulls = 0L
    private var min: Any = null
    private var max: Any = null

    def update(row: InternalRow): Unit =
      if (row.isNullAt(col.ordinal)) nulls += 1
      else if (bounded) {
        val v = get(row, col.ordinal)
        if (min == null || ord.lt(v, min)) min = retain(v)
        if (max == null || ord.gt(v, max)) max = retain(v)
      }

    /** A copy that outlives the (reused) row. A truncated string column
      * keeps cap + 1 code points: prefixes are monotone, so the bound of
      * the prefixes is the prefix of the bound, and the extra code point
      * tells a truncated maximum from a short one.
      */
    private def retain(v: Any): Any = v match {
      case s: UTF8String => if (cap < 0) s.clone() else s.substring(0, cap + 1)
      case d: Decimal => d.clone()
      case other => other
    }

    def result: ColStats =
      if (min == null) ColStats(None, None, nulls)
      else (min, max) match {
        case (lo: UTF8String, hi: UTF8String) if cap >= 0 =>
          ColStats(Some(lo.substring(0, cap).toString),
            if (hi.numChars <= cap) Some(hi.toString)
            else GraftTable.truncateUp(hi.substring(0, cap).toString), // None → unbounded
            nulls)
        case _ => ColStats(StatsCodec.encode(dt, external(min)),
          StatsCodec.encode(dt, external(max)), nulls)
      }

    private def external(v: Any): Any = v match {
      case d: Decimal => d.toJavaBigDecimal
      case other => other // epoch micros, epoch days, numbers, booleans, strings
    }
  }
}

object FileStatsTracker {
  private final case class TaskFiles(files: Seq[WrittenFileStats]) extends WriteTaskStats
}
