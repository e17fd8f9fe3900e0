package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String, sfDir: String = "/root/testdata/sf0.001") =
    spark.read.parquet(s"$sfDir/$name.parquet")
  def tmpTable(): String =
    Files.createTempDirectory("graft-test").toString + "/t"

  /** Runs `df`, then returns the (skippedTableFiles, resultedTableFiles)
    * driver metrics of its one graft scan.
    */
  def scanFileCounts(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    df.collect()
    val scans = SparkSpec.planHelper.collect(df.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.size == 1, s"expected one scan in\n${df.queryExecution.executedPlan}")
    (scans.head.metrics("skippedTableFiles").value, scans.head.metrics("resultedTableFiles").value)
  }
}

object SparkSpec {
  private val planHelper =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .config("spark.hadoop." + graft.spark.NioLocalFileSystem.ConfKey,
        graft.spark.NioLocalFileSystem.ConfValue)
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.spark.v2.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
