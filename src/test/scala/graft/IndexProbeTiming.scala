package graft

import graft.table.GraftTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Point-lookup latency on the two index-routed table shapes: a
  * dynamic-bucket table and a cross-partition table with the global pk
  * index. Each takes `n` keys in four commits, which fold its index
  * (`dynamic-bucket.index-compact.threshold` = 4), then two commits of
  * 10k new keys. Prints the index layout, then the p50 and p90 of 30
  * `lookup`s and of 30 pk-pinned `toDF.filter(k = v).collect()`s (after 3
  * warm-ups each), each on a random key of the first four commits or of
  * the last two.
  *
  *   sbt "Test/runMain graft.IndexProbeTiming <n> <dir>"
  */
object IndexProbeTiming {
  def main(args: Array[String]): Unit = {
    val n = args(0).toLong
    val dir = args(1)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.hadoop." + graft.spark.NioLocalFileSystem.ConfKey,
        graft.spark.NioLocalFileSystem.ConfValue)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.default.parallelism", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def rows(from: Long, until: Long) = spark.range(from, until)
      .select(col("id").as("k"), concat(lit("p"), (col("id") % 8).cast("string")).as("pt"),
        concat(lit("v"), col("id").cast("string")).as("v"))
    val shapes = Seq(
      "dynamic-bucket" -> ((p: String) => GraftTable.create(spark, p, rows(0, 1).schema,
        primaryKeys = Seq("k"), options = Map("bucket" -> "-1",
          "dynamic-bucket.target-row-num" -> (n / 8).toString,
          "dynamic-bucket.index-compact.threshold" -> "4"))),
      "cross-partition" -> ((p: String) => GraftTable.create(spark, p, rows(0, 1).schema,
        partitionKeys = Seq("pt"), primaryKeys = Seq("k"), options = Map("bucket" -> "4",
          "dynamic-bucket.index-compact.threshold" -> "4"))))
    for ((name, mk) <- shapes) {
      val t0 = System.nanoTime()
      val t = mk(s"$dir/$name")
      val q = n / 4
      (0 until 4).foreach(i => t.upsert(rows(i * q, (i + 1) * q)))
      (0 until 2).foreach(i => t.upsert(rows(n + i * 10000L, n + (i + 1) * 10000L)))
      val snap = t.store.latestSnapshot.get
      val idx = snap.indexFiles.map { d =>
        val st = t.store.fs.listStatus(new org.apache.hadoop.fs.Path(t.store.rootPath, d))
          .filter(_.getPath.getName.startsWith("part-"))
        s"${d.takeWhile(_ != '-').stripPrefix("index/")}:${st.length}f/${st.map(_.getLen).sum / 1024}KiB"
      }
      println(f"TIMING $name%s built in ${(System.nanoTime() - t0) / 1e9}%.1f s; index ${idx.mkString(" ")}")
      val r = new scala.util.Random(7)
      def keys(m: Int) = Seq.fill(m)(if (r.nextBoolean()) r.nextLong(n) else n + r.nextLong(20000L))
      def time(label: String, ks: Seq[Long])(f: Long => Any): Unit = {
        ks.take(3).foreach(f) // warm-up
        val ms = ks.drop(3).map { k =>
          val s = System.nanoTime(); f(k); (System.nanoTime() - s) / 1e6
        }.sorted
        println(f"TIMING $name%s $label%s p50 ${ms(ms.size / 2)}%.1f ms, p90 ${ms(ms.size * 9 / 10)}%.1f ms over ${ms.size}%d")
      }
      time("lookup", keys(33))(k => assert(t.lookup(Map("k" -> k)).isDefined))
      time("toDF.filter", keys(33))(k =>
        assert(t.toDF.filter(col("k") === lit(k)).collect().length == 1))
    }
    spark.stop()
  }
}
