package graft.spark.v2

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.memory.MemoryMode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.orc.OrcOptions
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.orc.OrcPartitionReaderFactory
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The Hadoop confs a table's reads broadcast, one per read shape
  * (reference: LocalTableQuery keeps its readers across lookups), shared
  * by every handle of the table ([[ReadShapes.of]]). A format
  * reader's conf depends on the format, the schema it reads and the
  * session's SQL conf, not on the filters: Spark's DSv2 file reader
  * factories take the broadcast conf and the pushed filters as separate
  * arguments, so every scan of a shape binds its own filters to the same
  * broadcast. At most `capacity` shapes are kept, least recently used
  * first out; an evicted or released conf is only dropped, and Spark's
  * `ContextCleaner` removes it once no scan holds it. A change to the
  * SparkContext's own Hadoop conf after a shape was cached does not reach
  * that shape.
  */
final class ReadShapes(capacity: Int = 16) {
  private case class Shape(format: String, readSchema: StructType, sqlConfs: Map[String, String])

  private val confs = new java.util.LinkedHashMap[Shape, Broadcast[SerializableConfiguration]](
      16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[Shape, Broadcast[SerializableConfiguration]]): Boolean =
      size() > capacity
  }

  /** The broadcast conf that `format` reads `readSchema` with. */
  def conf(spark: SparkSession, format: String, readSchema: StructType,
      sqlConfs: Map[String, String]): Broadcast[SerializableConfiguration] = {
    val shape = Shape(format, readSchema, sqlConfs)
    synchronized(Option(confs.get(shape))).getOrElse {
      val bc = spark.sparkContext.broadcast(
        new SerializableConfiguration(FileReads.hadoopConf(spark, format, readSchema)))
      synchronized(Option(confs.putIfAbsent(shape, bc)).getOrElse(bc))
    }
  }

  /** Drops every cached conf. */
  def clear(): Unit = synchronized(confs.clear())
}

object ReadShapes {
  private val tables =
    new java.util.LinkedHashMap[(SparkContext, String), ReadShapes](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkContext, String), ReadShapes]): Boolean =
        size() > 32
    }

  /** The read shapes of the table at `location` under `sc`, shared by the
    * table's handles (a catalog query loads a new handle), so a repeated
    * query broadcasts nothing. Keyed by the context: a stopped context's
    * broadcasts are never reused, and its entries are dropped here. At
    * most 32 tables are kept, least recently used first out.
    */
  def of(sc: SparkContext, location: String): ReadShapes = synchronized {
    tables.keySet.removeIf(_._1.isStopped)
    tables.computeIfAbsent((sc, location), _ => new ReadShapes())
  }
}

/** How one data file of a scan is opened. Each open returns the file's
  * rows or column batches laid out as the read schema followed by the
  * partition columns; an iterator that holds resources is `AutoCloseable`.
  */
sealed trait FileRead extends Serializable {
  def open(file: PartitionedFile, sqlConf: SQLConf): Iterator[AnyRef]
}

/** A file format's V1 reader function, for formats without a DSv2 reader
  * factory (Avro, whose reader carries its conf without a broadcast).
  */
case class FormatRead(readFunc: PartitionedFile => Iterator[InternalRow]) extends FileRead {
  override def open(file: PartitionedFile, sqlConf: SQLConf): Iterator[AnyRef] =
    readFunc(file)
}

/** A parquet or ORC file read through Spark's DSv2 reader factory over a
  * shared broadcast conf. Every open builds a factory of its own: a
  * parquet factory instance holds at most one open reader (a second one
  * fails in `VectorizedParquetRecordReader.checkEndOfRowGroup`), and the
  * k-way merge opens every file of a bucket at once. The ORC factory
  * writes its search argument into the conf it is given, so each ORC open
  * reads a private copy of the shared conf.
  */
case class FactoryRead(format: String, conf: Broadcast[SerializableConfiguration],
    dataSchema: StructType, readSchema: StructType, partitionSchema: StructType,
    filters: Array[Filter], batched: Boolean) extends FileRead {
  override def open(file: PartitionedFile, sqlConf: SQLConf): Iterator[AnyRef] = {
    val factory = format match {
      case "orc" =>
        OrcPartitionReaderFactory(sqlConf, new FileReads.PrivateCopies(conf), dataSchema,
          readSchema, partitionSchema, filters, None, new OrcOptions(Map.empty[String, String], sqlConf),
          if (sqlConf.offHeapColumnVectorEnabled) MemoryMode.OFF_HEAP else MemoryMode.ON_HEAP)
      case _ =>
        ParquetPartitionReaderFactory(sqlConf, conf, dataSchema, readSchema, partitionSchema,
          filters, None, new ParquetOptions(Map.empty[String, String], sqlConf))
    }
    val reader: PartitionReader[_ <: AnyRef] =
      if (batched) factory.buildColumnarReader(file) else factory.buildReader(file)
    new FileReads.ReaderIterator(reader)
  }
}

object FileReads {
  /** The session's Hadoop conf set up as `format`'s reader reads it: for
    * parquet, the keys `ParquetScan.createReaderFactory` sets; ORC sets its
    * own per file.
    */
  def hadoopConf(spark: SparkSession, format: String, readSchema: StructType): Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    if (format == "parquet") {
      val sql = spark.sessionState.conf
      val json = readSchema.json
      conf.set("parquet.read.support.class", classOf[ParquetReadSupport].getName)
      conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, json)
      conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, json)
      conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sql.sessionLocalTimeZone)
      conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key, sql.nestedSchemaPruningEnabled)
      conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sql.caseSensitiveAnalysis)
      conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sql.isParquetBinaryAsString)
      conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sql.isParquetINT96AsTimestamp)
      conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
        sql.parquetInferTimestampNTZEnabled)
      conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sql.legacyParquetNanosAsLong)
      conf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
        sql.parquetReaderRespectUnknownTypeAnnotation)
    }
    conf
  }

  /** A SQL conf holding `confs`. A `SQLConf` does not survive
    * serialization (its settings are transient), so a reader built inside
    * a task rebuilds the session's conf from its entries.
    */
  def sqlConf(confs: Map[String, String]): SQLConf = {
    val c = new SQLConf
    confs.foreach { case (k, v) => c.setConfString(k, v) }
    c
  }

  /** A view of a broadcast conf whose every read is a private copy. */
  private[v2] class PrivateCopies(shared: Broadcast[SerializableConfiguration])
      extends Broadcast[SerializableConfiguration](shared.id) {
    override protected def getValue(): SerializableConfiguration =
      new SerializableConfiguration(new Configuration(shared.value.value))
    override protected def doUnpersist(blocking: Boolean): Unit = ()
    override protected def doDestroy(blocking: Boolean): Unit = ()
  }

  /** A DSv2 partition reader as an iterator that closes at exhaustion and
    * on `close()`, once.
    */
  private[v2] class ReaderIterator(reader: PartitionReader[_ <: AnyRef])
      extends Iterator[AnyRef] with AutoCloseable {
    private var ready = false
    private var closed = false
    override def hasNext: Boolean = {
      if (!ready && !closed) {
        if (reader.next()) ready = true else close()
      }
      ready
    }
    override def next(): AnyRef = {
      if (!hasNext) throw new NoSuchElementException("end of file")
      ready = false
      reader.get()
    }
    override def close(): Unit = if (!closed) { closed = true; reader.close() }
  }
}
