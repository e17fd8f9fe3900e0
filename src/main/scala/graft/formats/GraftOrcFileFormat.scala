package graft.formats

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._

/** Spark's ORC format, minus the filters ORC's own search-argument
  * evaluation decides wrongly. ORC compares string min/max as Java (UTF-16)
  * strings and doubles with -0.0 < 0.0, so its row-group skipping drops
  * matching rows that Spark's comparison keeps (`s = '😀'` in a file that
  * also holds U+FFFD; `x = -0.0` in a file of 0.0). Filters touching
  * string or floating-point columns therefore stay with Spark's row-level
  * filter; the table's own file skipping still applies them.
  */
class GraftOrcFileFormat extends OrcFileFormat {
  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] =
    super.buildReaderWithPartitionValues(sparkSession, dataSchema, partitionSchema,
      requiredSchema, filters.filter(GraftOrcFileFormat.orcDecides(dataSchema, _)),
      options, hadoopConf)
}

object GraftOrcFileFormat {
  /** Does ORC compare every column `f` references the way Spark does? */
  def orcDecides(dataSchema: StructType, f: Filter): Boolean =
    f.references.forall(r => dataSchema.find(_.name == r).exists(_.dataType match {
      case FloatType | DoubleType => false
      case _: NumericType | BooleanType | DateType | TimestampType | TimestampNTZType => true
      case _ => false // strings and everything ORC does not order like Spark
    }))
}
