package graft

import graft.core._
import graft.table.GraftTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Test oracle for per-file stats: the scan-aggregate stats pass the write
  * path ran over staged files before stats were collected in the writer
  * task — one Spark aggregation grouped by file, then the driver-side
  * encoding into `ColStats` and bloom sidecar bytes — kept unchanged so the
  * writer-task collector can be compared against it (as [[ReferenceMerge]]
  * is for the merge).
  *
  * Where this oracle is knowingly wrong: string bounds are cut at UTF-16
  * units, so a cut inside a surrogate pair leaves a lone surrogate (and the
  * bounds compare as Java strings, not UTF-8 bytes); a file's -0.0 / 0.0
  * bounds are whichever Spark's min/max aggregate keeps.
  */
object ReferenceStats {

  final case class FileStats(rowCount: Long, stats: Map[String, ColStats],
      blooms: Map[String, Array[Byte]])

  /** Max stored length of string min/max stats (the default cap). */
  private val StatsStringCap = 64

  /** Reference stats of `files` (one table format), keyed by table-relative path. */
  def of(t: GraftTable, files: Seq[DataFileMeta]): Map[String, FileStats] = {
    val schema = t.schema
    val fmtName = files.map(f => GraftTable.formatNameOfPath(f.path)
      .getOrElse(schema.fileFormat)).distinct match {
      case Seq(one) => one
      case many => throw new IllegalArgumentException(s"mixed formats: $many")
    }
    val cols = schema.dataFields.filter { f =>
      (f.sparkType match {
        case _: NumericType | StringType | DateType | TimestampType |
             TimestampNTZType | BooleanType => true
        case _ => false
      }) && schema.statsMode(f.name)._1 != "none"
    }
    val blooms = schema.options.get("file-index.bloom.columns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .filter(n => schema.dataFields.exists(_.name == n))
      .map(schema.fieldByName)
    val bloomBits = schema.option("file-index.bloom.bits", (1L << 20).toString).toLong
    val root = t.store.rootPath

    val staged = t.spark.read
      .schema(StructType(t.physicalDataSchema().fields)) // data cols only; dirs ignored
      .option("basePath", new Path(root, "data").toString)
      .format(sourceNameFor(fmtName))
      .load(files.map(f => new Path(root, f.path).toString): _*)
    val bloomAggs = blooms.zipWithIndex.map { case (f, i) =>
      bloomFilterAgg(xxhash64(col(f.name)), bloomBits).as(s"__bf$i")
    }
    val aggs = Seq(count(lit(1)).as("__cnt")) ++ bloomAggs ++
      cols.zipWithIndex.flatMap { case (f, i) =>
      val c = col(f.name)
      val statC = f.sparkType match {
        // long strings bloat manifests: collect one char past the cap so the
        // driver can tell "truncated" apart from "short", then store a
        // truncated-down min / truncated-UP max — valid outer bounds
        // (reference: SimpleStats truncation; storing subset min/max would
        // silently prune files containing long matching strings).
        // stats-mode=full collects the whole value (exact bounds)
        case StringType if schema.statsMode(f.name)._1 != "full" =>
          val cap = schema.statsMode(f.name) match {
            case ("truncate", n) => n
            case _ => StatsStringCap
          }
          substring(c, 1, cap + 1)
        case _ => c
      }
      Seq(min(statC).as(s"__mn$i"), max(statC).as(s"__mx$i"),
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"__nc$i"))
    }
    staged.groupBy(GraftTable.relDataPath.as("__path"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.map { row =>
        val mins = cols.zipWithIndex.flatMap { case (f, i) =>
          Option(row.get(row.fieldIndex(s"__mn$i"))).map(f.name -> _) }.toMap
        val maxs = cols.zipWithIndex.flatMap { case (f, i) =>
          Option(row.get(row.fieldIndex(s"__mx$i"))).map(f.name -> _) }.toMap
        val nulls = cols.zipWithIndex.map { case (f, i) =>
          f.name -> row.getAs[Long](s"__nc$i") }.toMap
        val stats = cols.map { f =>
          val (mode, tlen) = schema.statsMode(f.name)
          val mnRaw = mins.getOrElse(f.name, null)
          val mxRaw = maxs.getOrElse(f.name, null)
          val (mn, mx) = f.sparkType match {
            case _ if mode == "counts" => (None, None) // null count only
            case StringType if mode == "full" =>
              (Option(mnRaw).map(_.toString), Option(mxRaw).map(_.toString))
            case StringType =>
              val cap = if (mode == "truncate") tlen else StatsStringCap
              (Option(mnRaw).map(_.toString).map(_.take(cap)),
               Option(mxRaw).map(_.toString).flatMap { s =>
                 if (s.length <= cap) Some(s)
                 else truncateUp(s.take(cap)) // None → unbounded
               })
            case dt => (StatsCodec.encode(dt, mnRaw), StatsCodec.encode(dt, mxRaw))
          }
          f.name -> ColStats(mn, mx, nulls.getOrElse(f.name, 0L))
        }.toMap
        row.getAs[String]("__path") -> FileStats(row.getAs[Long]("__cnt"), stats,
          blooms.zipWithIndex.flatMap { case (f, i) =>
            Option(row.getAs[Array[Byte]](s"__bf$i")).map(f.name -> _) }.toMap)
      }.toMap
  }

  /** DataSource provider name for reader `.format` — built-in names for
    * parquet/orc, the engine's own `FileFormat` class for avro (no
    * spark-avro module in this build).
    */
  def sourceNameFor(format: String): String =
    format match {
      case "avro" => classOf[graft.formats.GraftAvroFileFormat].getName
      case f => f
    }

  /** Smallest string > every string with the given prefix: increment the
    * rightmost incrementable char, drop the tail. None if impossible.
    */
  def truncateUp(s: String): Option[String] = {
    var i = s.length - 1
    while (i >= 0 && s.charAt(i) == Char.MaxValue) i -= 1
    if (i < 0) None else Some(s.substring(0, i) + (s.charAt(i) + 1).toChar)
  }

  /** Spark's internal bloom-filter aggregate (the engine behind runtime
    * filtering) as a usable Column — builds an
    * org.apache.spark.util.sketch.BloomFilter over the child's LONG values.
    */
  def bloomFilterAgg(child: Column, numBits: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.SparkShims
    val agg = new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      SparkShims.expr(child), Literal(numBits / 16), Literal(numBits))
    SparkShims.column(agg.toAggregateExpression())
  }
}
