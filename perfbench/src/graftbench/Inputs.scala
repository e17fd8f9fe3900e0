package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Generated inputs staged as parquet, the way the test data ships, so
  * set-up reads them like any source table.
  */
object Inputs {
  private def path(spark: SparkSession, name: String): String =
    s"${spark.conf.get("spark.sql.warehouse.dir")}/inputs/$name"

  /** Rows made on the driver. */
  def stage(spark: SparkSession, name: String, rows: Seq[Row], schema: StructType): String = {
    val p = path(spark, name)
    spark.createDataFrame(rows.asJava, schema).write.parquet(p)
    p
  }

  /** Rows 0 until n, row i made by `row(i)` in Spark tasks, in order. */
  def generate(spark: SparkSession, name: String, n: Long, schema: StructType)
      (row: Long => Row): String = {
    val p = path(spark, name)
    val sc = spark.sparkContext
    spark.createDataFrame(sc.range(0L, n, 1L, sc.defaultParallelism).map(row), schema)
      .write.parquet(p)
    p
  }
}
