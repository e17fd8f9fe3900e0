package graft

import graft.table.GraftTable
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.util.concurrent.ConcurrentLinkedQueue

/** The cost of row-level DML on a 4-bucket primary-key table of `n` keys
  * (one compacted file per bucket), three rounds each of:
  *  - a SQL MERGE of a 2000-row source (1800 updates of existing keys,
  *    200 new keys) through a catalog;
  *  - a Scala `update` of a 2000-key range.
  * For each timed operation it prints the wall time, the Spark jobs it ran,
  * the rows of the table's data files it read (every file read counted
  * each time a stage opens it), and the bytes of staged row files it read
  * back (a delta write stages its rows before the upsert commits them).
  *
  *   sbt "Test/runMain graft.RowLevelTiming <n> <dir>"
  */
object RowLevelTiming {
  private val opens = new ConcurrentLinkedQueue[(String, Int, Long)]()

  /** The local file system, recording the path, stage and length of every
    * open.
    */
  class CountingFileSystem extends graft.spark.NioLocalFileSystem {
    override def open(f: Path, bufferSize: Int): FSDataInputStream = {
      val stage = Option(org.apache.spark.TaskContext.get()).map(_.stageId()).getOrElse(-1)
      val in = super.open(f, bufferSize)
      opens.add((Path.getPathWithoutSchemeAndAuthority(f).toString, stage, getFileStatus(f).getLen))
      in
    }
  }

  def main(args: Array[String]): Unit = {
    val n = args(0).toLong
    val dir = args(1)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.hadoop." + graft.spark.NioLocalFileSystem.ConfKey,
        classOf[CountingFileSystem].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true")
      .config("spark.sql.extensions", "graft.spark.v2.GraftExtensions")
      .config("spark.sql.catalog.rlt", classOf[graft.spark.v2.GraftCatalog].getName)
      .config("spark.sql.catalog.rlt.warehouse", dir)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.default.parallelism", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def rows(from: Long, until: Long, tag: String) = spark.range(from, until)
      .select(col("id").as("k"), concat(lit(tag), col("id").cast("string")).as("v"),
        (col("id") * 7).as("n"))
    var op = 0

    /** Runs `f` on `t` and prints its counters; the table's files of the
      * snapshots before and after name the data files opened.
      */
    def measure(label: String, t: GraftTable)(f: => Any): Unit = {
      op += 1
      val group = s"row-level-timing-$op"
      val before = t.store.latestSnapshot.get
      opens.clear()
      spark.sparkContext.setJobGroup(group, label)
      val t0 = System.nanoTime()
      f
      val ms = (System.nanoTime() - t0) / 1e6
      spark.sparkContext.clearJobGroup()
      val after = t.store.latestSnapshot.get
      val files = Seq(before, after).flatMap(t.store.liveFiles)
        .map(f => s"${t.store.rootPath.toUri.getPath}/${f.path}" -> f.rowCount).toMap
      val all = opens.toArray(Array.empty[(String, Int, Long)]).toSeq.distinct
      val reads = all.flatMap { case (p, _, _) => files.get(p) }
      val staged = all.filter(_._1.contains("/tmp-delta-")).map(_._3).sum
      val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
      println(f"TIMING $label%-28s ms ${ms}%6.0f  jobs $jobs%2d  rows read ${reads.sum}%8d  " +
        f"staged bytes read $staged%8d")
    }

    spark.sql("CREATE NAMESPACE IF NOT EXISTS rlt.db")
    spark.sql("CREATE TABLE rlt.db.t (k BIGINT, v STRING, n BIGINT) USING graft " +
      "TBLPROPERTIES ('primary-key' = 'k', 'bucket' = '4')")
    val t = GraftTable.load(spark, s"$dir/db/t")
    t.upsert(rows(0, n, "a"))
    t.compact()
    val rnd = new scala.util.Random(7)
    for (round <- 1 to 3) {
      val start = rnd.nextLong(n - 2000)
      rows(start, start + 1800, s"m$round")
        .union(rows(n + round * 200L, n + (round + 1) * 200L, s"m$round"))
        .createOrReplaceTempView("rlt_src")
      measure(s"sql merge ($n keys)", t)(spark.sql(
        """MERGE INTO rlt.db.t t USING rlt_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
      val from = rnd.nextLong(n - 2000)
      measure(s"scala update ($n keys)", t)(t.update(
        col("k") >= from && col("k") < from + 2000, Map("v" -> lit(s"u$round"))))
    }
    spark.stop()
  }
}
