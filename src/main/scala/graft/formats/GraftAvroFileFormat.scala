package graft.formats

import java.io.OutputStream
import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema => AvroSchema, SchemaBuilder}
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericFixed, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.avro.util.Utf8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, SpecializedGetters}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriter, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Avro data-file support built directly on the avro-core jars that ship
  * with Spark (`avro`, `avro-mapred`) — the `spark-avro` datasource module
  * is unresolvable in this offline environment (README §limitations), but
  * the container format itself needs only `DataFileReader`/`DataFileWriter`.
  *
  * Reference capability: paimon-format
  * `org/apache/paimon/format/avro/AvroFileFormat.java:50` (Avro as a
  * first-class `file.format` next to parquet/orc). The integration seam is
  * Spark's `FileFormat`: the engine's write path
  * (`GraftTable.stageWrite`) drives [[prepareWrite]] through Spark's
  * `FileFormatWriter` and the scan (`GraftScan`, the one read path)
  * drives [[buildReader]], so Avro tables get partition
  * pruning, stats-based file skipping (stats collected in the writer task,
  * as for every format), MOR merge and schema evolution for free.
  *
  * Splits: Avro files are block-structured with 16-byte sync markers, so a
  * byte-range read is `sync(start)` then records until `pastSync(end)` —
  * the same contract parquet row-groups give, which is what makes a single
  * large Avro file readable by many executors at 100 TB.
  */
class GraftAvroFileFormat extends FileFormat
    with org.apache.spark.sql.sources.DataSourceRegister with Serializable {

  override def inferSchema(
      sparkSession: SparkSession,
      options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    files.find(_.getLen > 0).map { f =>
      val conf = sparkSession.sessionState.newHadoopConf()
      val in = new FsInput(f.getPath, conf)
      try {
        val reader = DataFileReader.openReader(in, new GenericDatumReader[GenericRecord]())
        try AvroConv.toSparkType(reader.getSchema).asInstanceOf[StructType]
        finally reader.close()
      } finally in.close()
    }
  }

  override def prepareWrite(
      sparkSession: SparkSession,
      job: Job,
      options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val codecName = options.get("compression").map(_.toLowerCase) match {
      case None | Some("snappy") => "snappy"
      case Some("uncompressed") | Some("none") => "null"
      case Some("deflate") | Some("gzip") => "deflate"
      case Some("zstd") | Some("zstandard") => "zstandard"
      case Some("xz") => "xz"
      case Some("bzip2") => "bzip2"
      case Some(other) => throw new IllegalArgumentException(
        s"avro does not support compression codec '$other' " +
          "(supported: snappy, deflate/gzip, zstd, xz, bzip2, none)")
    }
    new OutputWriterFactory {
      override def getFileExtension(context: TaskAttemptContext): String = ".avro"
      override def newInstance(
          path: String,
          dataSchema: StructType,
          context: TaskAttemptContext): OutputWriter =
        new GraftAvroOutputWriter(path, dataSchema, codecName, context)
    }
  }

  override def isSplitable(
      sparkSession: SparkSession,
      options: Map[String, String],
      path: Path): Boolean = true

  override def buildReader(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val confBc = new SerializableConfiguration(hadoopConf)
    val required = requiredSchema // serializable capture
    (file: PartitionedFile) => {
      val path = new Path(file.filePath.toUri)
      val in = new FsInput(path, confBc.value)
      val datum = new GenericDatumReader[GenericRecord]()
      val reader = try {
        DataFileReader.openReader(in, datum)
      } catch { case e: Throwable => in.close(); throw e }
      // project: the expected schema keeps only the required fields, each
      // with the writer's own field schema — Avro then skips the other
      // columns without decoding them (the column-pruning analog of
      // parquet's ReadSchema)
      val writerSchema = reader.getSchema
      val writerFields = writerSchema.getFields.asScala.map(f => f.name -> f.schema).toMap
      val kept = required.fields.filter(f => writerFields.contains(f.name))
      val effective = if (kept.length < writerFields.size) {
        val proj = AvroSchema.createRecord(
          writerSchema.getName, null, writerSchema.getNamespace, false,
          // no defaults: every projected field exists in the writer schema
          kept.map(f => new AvroSchema.Field(f.name, writerFields(f.name), null))
            .toList.asJava)
        datum.setExpected(proj)
        proj
      } else writerSchema
      avroRows(reader, effective, required, file.start, file.length)
    }
  }

  /** Range-bounded record iterator → InternalRow, closing at exhaustion. */
  private def avroRows(
      reader: org.apache.avro.file.FileReader[GenericRecord],
      recordSchema: AvroSchema,
      required: StructType,
      start: Long,
      length: Long): Iterator[InternalRow] = {
    reader.sync(start)
    val end = start + length
    val converters = required.fields.map(f => AvroConv.reader(f.dataType))
    // record position per required field (-1 → absent in this file's
    // schema version, null-filled; the engine remaps dropped/renamed
    // columns at plan level, this is the read-side backstop)
    val pos = required.fieldNames.map { n =>
      val f = recordSchema.getField(n)
      if (f == null) -1 else f.pos
    }
    val n = pos.length
    var closed = false
    def closeOnce(): Unit = if (!closed) { closed = true; reader.close() }
    // Close at task completion too: early-terminated scans (LIMIT,
    // short-circuited joins, task failures) never exhaust the iterator,
    // and FileScanRDD only closes iterators that are Closeable. Same
    // pattern as spark-avro's AvroFileFormat reader registration.
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
    new Iterator[InternalRow] {
      override def hasNext: Boolean = {
        if (closed) return false
        val more = reader.hasNext && !reader.pastSync(end)
        if (!more) closeOnce()
        more
      }
      override def next(): InternalRow = {
        val rec = reader.next()
        val out = new Array[Any](n)
        var i = 0
        while (i < n) {
          if (pos(i) >= 0) {
            val v = rec.get(pos(i))
            out(i) = if (v == null) null else converters(i)(v)
          }
          i += 1
        }
        new GenericInternalRow(out)
      }
    }
  }

  override def shortName(): String = "graft-avro"
  override def toString: String = "GraftAvro"
  override def hashCode(): Int = getClass.hashCode()
  override def equals(other: Any): Boolean = other.isInstanceOf[GraftAvroFileFormat]

  override def supportDataType(dataType: DataType): Boolean = dataType match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | StringType | BinaryType | DateType |
         TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case ArrayType(e, _) => supportDataType(e)
    case MapType(StringType, v, _) => supportDataType(v)
    case st: StructType => st.fields.forall(f => supportDataType(f.dataType))
    case _ => false
  }
}

/** One task's Avro file: InternalRow → GenericRecord via per-field
  * converters built once, appended through `DataFileWriter` (which owns the
  * block buffer, codec and sync markers).
  */
private[formats] class GraftAvroOutputWriter(
    val path: String,
    dataSchema: StructType,
    codecName: String,
    context: TaskAttemptContext) extends OutputWriter {

  private val avroSchema = AvroConv.toAvroType(dataSchema, "graft_record", "graft")
  private val fieldSchemas = dataSchema.fields.indices.map { i =>
    AvroConv.nonNull(avroSchema.getFields.get(i).schema)
  }
  private val getters = dataSchema.fields.zipWithIndex.map { case (f, i) =>
    AvroConv.writer(f.dataType, fieldSchemas(i))
  }

  private val out: OutputStream = {
    val p = new Path(path)
    p.getFileSystem(context.getConfiguration).create(p, false)
  }
  private val writer = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](avroSchema))
    w.setCodec(codecName match {
      case "null" => CodecFactory.nullCodec()
      case "deflate" => CodecFactory.deflateCodec(CodecFactory.DEFAULT_DEFLATE_LEVEL)
      case "zstandard" => CodecFactory.zstandardCodec(CodecFactory.DEFAULT_ZSTANDARD_LEVEL)
      case "xz" => CodecFactory.xzCodec(CodecFactory.DEFAULT_XZ_LEVEL)
      case other => CodecFactory.fromString(other)
    })
    w.create(avroSchema, out) // closing the writer closes the stream
  }

  override def write(row: InternalRow): Unit = {
    val rec = new GenericData.Record(avroSchema)
    var i = 0
    val n = getters.length
    while (i < n) {
      rec.put(i, if (row.isNullAt(i)) null else getters(i)(row, i))
      i += 1
    }
    writer.append(rec)
  }

  override def close(): Unit = writer.close()
}

/** Spark ↔ Avro type bridge: schema conversion plus per-type value
  * converters in both directions. Logical types follow the Avro spec so the
  * files interoperate with any Avro reader: `date` = days int,
  * `timestamp-micros` / `local-timestamp-micros` = long, `decimal` =
  * unscaled big-endian bytes — all identical to Spark's internal
  * representations, so date/timestamp converters are identity.
  */
private[formats] object AvroConv {
  type AvroReader = AnyRef => Any
  type AvroWriter = (SpecializedGetters, Int) => AnyRef

  def nonNull(s: AvroSchema): AvroSchema =
    if (s.getType == AvroSchema.Type.UNION) {
      val branches = s.getTypes.asScala.filter(_.getType != AvroSchema.Type.NULL)
      require(branches.size == 1,
        s"unsupported avro union with ${branches.size} non-null branches: $s")
      branches.head
    } else s

  // ---------- schema: Spark -> Avro ----------

  def toAvroType(st: StructType, name: String, namespace: String): AvroSchema =
    AvroSchema.createRecord(name, null, namespace, false,
      st.fields.zipWithIndex.map { case (f, i) =>
        val t = fieldAvroType(f.dataType, s"$name._${f.name}", namespace)
        val s = if (f.nullable) AvroSchema.createUnion(
          AvroSchema.create(AvroSchema.Type.NULL), t) else t
        new AvroSchema.Field(avroName(f.name), s, null,
          if (f.nullable) AvroSchema.Field.NULL_DEFAULT_VALUE else null)
      }.toList.asJava)

  /** Avro names reject chars like `-`; ours are all word-chars already
    * (validated at table create), this is a backstop for nested names.
    */
  private def avroName(n: String): String = n

  private def fieldAvroType(dt: DataType, path: String, ns: String): AvroSchema = dt match {
    case BooleanType => AvroSchema.create(AvroSchema.Type.BOOLEAN)
    case ByteType | ShortType | IntegerType => AvroSchema.create(AvroSchema.Type.INT)
    case LongType => AvroSchema.create(AvroSchema.Type.LONG)
    case FloatType => AvroSchema.create(AvroSchema.Type.FLOAT)
    case DoubleType => AvroSchema.create(AvroSchema.Type.DOUBLE)
    case StringType => AvroSchema.create(AvroSchema.Type.STRING)
    case BinaryType => AvroSchema.create(AvroSchema.Type.BYTES)
    case DateType =>
      LogicalTypes.date().addToSchema(AvroSchema.create(AvroSchema.Type.INT))
    case TimestampType =>
      LogicalTypes.timestampMicros().addToSchema(AvroSchema.create(AvroSchema.Type.LONG))
    case TimestampNTZType =>
      LogicalTypes.localTimestampMicros().addToSchema(AvroSchema.create(AvroSchema.Type.LONG))
    case d: DecimalType =>
      LogicalTypes.decimal(d.precision, d.scale)
        .addToSchema(AvroSchema.create(AvroSchema.Type.BYTES))
    case ArrayType(e, containsNull) =>
      val el = fieldAvroType(e, s"$path.element", ns)
      AvroSchema.createArray(
        if (containsNull) AvroSchema.createUnion(
          AvroSchema.create(AvroSchema.Type.NULL), el) else el)
    case MapType(StringType, v, valueContainsNull) =>
      val vs = fieldAvroType(v, s"$path.value", ns)
      AvroSchema.createMap(
        if (valueContainsNull) AvroSchema.createUnion(
          AvroSchema.create(AvroSchema.Type.NULL), vs) else vs)
    case st: StructType =>
      toAvroType(st, path.replace('.', '_'), ns)
    case other => throw new UnsupportedOperationException(
      s"avro file.format does not support spark type $other")
  }

  // ---------- schema: Avro -> Spark (for inferSchema) ----------

  def toSparkType(s: AvroSchema): DataType = {
    val nn = nonNull(s)
    nn.getType match {
      case AvroSchema.Type.BOOLEAN => BooleanType
      case AvroSchema.Type.INT =>
        if (nn.getLogicalType.isInstanceOf[LogicalTypes.Date]) DateType else IntegerType
      case AvroSchema.Type.LONG => nn.getLogicalType match {
        case _: LogicalTypes.TimestampMicros | _: LogicalTypes.TimestampMillis => TimestampType
        case _: LogicalTypes.LocalTimestampMicros | _: LogicalTypes.LocalTimestampMillis =>
          TimestampNTZType
        case _ => LongType
      }
      case AvroSchema.Type.FLOAT => FloatType
      case AvroSchema.Type.DOUBLE => DoubleType
      case AvroSchema.Type.STRING | AvroSchema.Type.ENUM => StringType
      case AvroSchema.Type.BYTES | AvroSchema.Type.FIXED => nn.getLogicalType match {
        case d: LogicalTypes.Decimal => DecimalType(d.getPrecision, d.getScale)
        case _ => BinaryType
      }
      case AvroSchema.Type.ARRAY =>
        ArrayType(toSparkType(nn.getElementType),
          containsNull = nn.getElementType.getType == AvroSchema.Type.UNION)
      case AvroSchema.Type.MAP =>
        MapType(StringType, toSparkType(nn.getValueType),
          valueContainsNull = nn.getValueType.getType == AvroSchema.Type.UNION)
      case AvroSchema.Type.RECORD =>
        StructType(nn.getFields.asScala.map { f =>
          StructField(f.name, toSparkType(f.schema),
            nullable = f.schema.getType == AvroSchema.Type.UNION)
        }.toArray)
      case other => throw new UnsupportedOperationException(
        s"unsupported avro type in data file: $other")
    }
  }

  // ---------- values: Avro datum -> Spark internal ----------

  def reader(dt: DataType): AvroReader = dt match {
    case ByteType => v => v.asInstanceOf[Number].byteValue()
    case ShortType => v => v.asInstanceOf[Number].shortValue()
    case IntegerType | DateType => v => v.asInstanceOf[Number].intValue()
    case LongType | TimestampType | TimestampNTZType =>
      v => v.asInstanceOf[Number].longValue()
    case FloatType => v => v.asInstanceOf[Number].floatValue()
    case DoubleType => v => v.asInstanceOf[Number].doubleValue()
    case BooleanType => v => v.asInstanceOf[java.lang.Boolean].booleanValue()
    case StringType => {
      case u: Utf8 => UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
      case other => UTF8String.fromString(other.toString)
    }
    case BinaryType => {
      case b: ByteBuffer => byteBufferToArray(b)
      case f: GenericFixed => f.bytes().clone()
      case a: Array[Byte] => a
    }
    case d: DecimalType => v => {
      val bytes = v match {
        case b: ByteBuffer => byteBufferToArray(b)
        case f: GenericFixed => f.bytes()
      }
      Decimal(new JBigDecimal(new BigInteger(bytes), d.scale), d.precision, d.scale)
    }
    case ArrayType(e, _) =>
      val elem = reader(e)
      v => {
        val c = v.asInstanceOf[java.util.Collection[AnyRef]]
        val arr = new Array[Any](c.size)
        val it = c.iterator()
        var i = 0
        while (it.hasNext) {
          val x = it.next()
          arr(i) = if (x == null) null else elem(x)
          i += 1
        }
        new GenericArrayData(arr)
      }
    case MapType(StringType, vt, _) =>
      val sv = reader(StringType)
      val vv = reader(vt)
      v => {
        val m = v.asInstanceOf[java.util.Map[AnyRef, AnyRef]]
        val keys = new Array[Any](m.size)
        val vals = new Array[Any](m.size)
        val it = m.entrySet().iterator()
        var i = 0
        while (it.hasNext) {
          val e = it.next()
          keys(i) = sv(e.getKey)
          vals(i) = if (e.getValue == null) null else vv(e.getValue)
          i += 1
        }
        new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
      }
    case st: StructType =>
      val subs = st.fields.map(f => reader(f.dataType))
      val names = st.fieldNames
      v => {
        val rec = v.asInstanceOf[GenericRecord]
        val out = new Array[Any](names.length)
        var i = 0
        while (i < names.length) {
          val x = rec.get(names(i))
          out(i) = if (x == null) null else subs(i)(x)
          i += 1
        }
        new GenericInternalRow(out)
      }
    case other => throw new UnsupportedOperationException(
      s"avro read of spark type $other")
  }

  private def byteBufferToArray(b: ByteBuffer): Array[Byte] = {
    val dup = b.duplicate()
    val out = new Array[Byte](dup.remaining())
    dup.get(out)
    out
  }

  // ---------- values: Spark internal -> Avro datum ----------

  def writer(dt: DataType, avro: AvroSchema): AvroWriter = dt match {
    case BooleanType => (r, i) => java.lang.Boolean.valueOf(r.getBoolean(i))
    case ByteType => (r, i) => Integer.valueOf(r.getByte(i).toInt)
    case ShortType => (r, i) => Integer.valueOf(r.getShort(i).toInt)
    case IntegerType | DateType => (r, i) => Integer.valueOf(r.getInt(i))
    case LongType | TimestampType | TimestampNTZType =>
      (r, i) => java.lang.Long.valueOf(r.getLong(i))
    case FloatType => (r, i) => java.lang.Float.valueOf(r.getFloat(i))
    case DoubleType => (r, i) => java.lang.Double.valueOf(r.getDouble(i))
    case StringType => (r, i) => new Utf8(r.getUTF8String(i).getBytes)
    case BinaryType => (r, i) => ByteBuffer.wrap(r.getBinary(i))
    case d: DecimalType => (r, i) =>
      ByteBuffer.wrap(r.getDecimal(i, d.precision, d.scale)
        .toJavaBigDecimal.unscaledValue().toByteArray)
    case ArrayType(e, _) =>
      val elemSchema = nonNull(avro.getElementType)
      val elem = writer(e, elemSchema)
      val get = elementGetter(e, elem)
      (r, i) => {
        val arr = r.getArray(i)
        val out = new java.util.ArrayList[AnyRef](arr.numElements())
        var j = 0
        while (j < arr.numElements()) {
          out.add(if (arr.isNullAt(j)) null else get(arr, j))
          j += 1
        }
        out
      }
    case MapType(StringType, vt, _) =>
      val valSchema = nonNull(avro.getValueType)
      val vw = writer(vt, valSchema)
      val get = elementGetter(vt, vw)
      (r, i) => {
        val m: MapData = r.getMap(i)
        val keys = m.keyArray()
        val vals = m.valueArray()
        val out = new java.util.HashMap[AnyRef, AnyRef](m.numElements())
        var j = 0
        while (j < m.numElements()) {
          out.put(new Utf8(keys.getUTF8String(j).getBytes),
            if (vals.isNullAt(j)) null else get(vals, j))
          j += 1
        }
        out
      }
    case st: StructType =>
      val subs = st.fields.zipWithIndex.map { case (f, j) =>
        writer(f.dataType, nonNull(avro.getFields.get(j).schema))
      }
      (r, i) => {
        val row = r.getStruct(i, st.length)
        val rec = new GenericData.Record(avro)
        var j = 0
        while (j < subs.length) {
          rec.put(j, if (row.isNullAt(j)) null else subs(j)(row, j))
          j += 1
        }
        rec
      }
    case other => throw new UnsupportedOperationException(
      s"avro write of spark type $other")
  }

  /** [[AvroWriter]] already indexes a [[SpecializedGetters]] — arrays and
    * maps reuse it by treating `ArrayData` as the getter.
    */
  private def elementGetter(dt: DataType, w: AvroWriter): (ArrayData, Int) => AnyRef =
    (arr, j) => w(arr, j)
}
