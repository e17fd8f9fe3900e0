package graft

import graft.core.ManifestEntry
import graft.table.GraftTable
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.util.concurrent.ConcurrentLinkedQueue

/** The cost of the two exact changelog producers on a one-bucket table of
  * `n` and `10 n` keys (one compacted file each):
  *  - `lookup`: three upserts of a fixed 2000-row batch (1800 updates of
  *    existing keys, 200 new keys), each producing its changelog;
  *  - `full-compaction`: three rounds of one such upsert, then a timed
  *    `compact()` that rewrites the bucket and produces the changelog.
  * For each timed operation it prints the wall time, the Spark jobs it ran,
  * and the data files it read with their rows. A file read is a data file
  * opened by one stage (a scan may split a file over several tasks, and
  * its reader may open it more than once), so `rows read` is the row count
  * of every file read, each time it is read.
  *
  *   sbt "Test/runMain graft.ChangelogTiming <n> <dir>"
  */
object ChangelogTiming {
  private val opens = new ConcurrentLinkedQueue[(String, Int)]()

  /** The local file system, recording the path and stage of every open. */
  class CountingFileSystem extends graft.spark.NioLocalFileSystem {
    override def open(f: Path, bufferSize: Int): FSDataInputStream = {
      val stage = Option(org.apache.spark.TaskContext.get()).map(_.stageId()).getOrElse(-1)
      opens.add(Path.getPathWithoutSchemeAndAuthority(f).toString -> stage)
      super.open(f, bufferSize)
    }
  }

  def main(args: Array[String]): Unit = {
    val n = args(0).toLong
    val dir = args(1)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.hadoop." + graft.spark.NioLocalFileSystem.ConfKey,
        classOf[CountingFileSystem].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true")
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
      val group = s"changelog-timing-$op"
      val before = t.store.latestSnapshot.get
      opens.clear()
      spark.sparkContext.setJobGroup(group, label)
      val t0 = System.nanoTime()
      f
      val ms = (System.nanoTime() - t0) / 1e6
      spark.sparkContext.clearJobGroup()
      val after = t.store.latestSnapshot.get
      val files = (Seq(before, after).flatMap(t.store.liveFiles) ++
        after.changelogManifests.flatMap(t.store.readManifest).collect {
          case ManifestEntry(ManifestEntry.ADD, f) => f
        }).map(f => s"${t.store.rootPath.toUri.getPath}/${f.path}" -> f.rowCount).toMap
      val reads = opens.toArray(Array.empty[(String, Int)]).toSeq.distinct
        .flatMap { case (p, _) => files.get(p).map(p -> _) }
      val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
      println(f"TIMING $label%-36s ms ${ms}%6.0f  jobs $jobs%2d  file reads ${reads.size}%2d " +
        f"(${reads.map(_._1).distinct.size}%d files)  rows read ${reads.map(_._2).sum}%8d")
    }

    for (mult <- Seq(1L, 10L); producer <- Seq("lookup", "full-compaction")) {
      val size = n * mult
      val t = GraftTable.create(spark, s"$dir/$producer-$mult", rows(0, 1, "a").schema,
        primaryKeys = Seq("k"), options = Map("bucket" -> "1", "write-only" -> "true",
          "changelog-producer" -> producer))
      t.upsert(rows(0, size, "a"))
      t.compact()
      val rnd = new scala.util.Random(mult)
      for (round <- 1 to 3) {
        val start = rnd.nextLong(size - 1800)
        val batch = rows(start, start + 1800, s"r$round")
          .union(rows(size + round * 200L, size + (round + 1) * 200L, s"r$round"))
        val label = s"$producer ${mult}x ($size keys)"
        if (producer == "lookup") measure(s"$label upsert", t)(t.upsert(batch))
        else {
          t.upsert(batch)
          measure(s"$label compact", t)(t.compact())
        }
      }
    }
    spark.stop()
  }
}
