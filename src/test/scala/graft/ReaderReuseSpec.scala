package graft

import graft.table.GraftTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reader machinery a table handle keeps across reads: one broadcast
  * Hadoop conf per read shape, bound per scan to its own filters, and a
  * reader factory per opened file (the k-way merge opens every file of a
  * bucket at once). The oracle is the expected table state, written out.
  */
class ReaderReuseSpec extends SparkSpec {
  import spark.implicits._

  /** Broadcasts the driver's block manager holds. */
  private def broadcastIds: Set[Long] =
    org.apache.spark.SparkEnv.get.blockManager.getMatchingBlockIds(_.isBroadcast)
      .collect { case b: org.apache.spark.storage.BroadcastBlockId => b.broadcastId }.toSet

  /** Broadcasts `f` starts. */
  private def broadcastsOf[T](f: => T): (T, Int) = {
    val before = broadcastIds
    val out = f
    (out, (broadcastIds -- before).size)
  }

  /** Broadcast Hadoop confs among the driver's broadcasts (a job's task
    * binary is a broadcast too).
    */
  private def confBroadcastIds: Set[Long] = broadcastIds.filter { id =>
    org.apache.spark.SparkEnv.get.blockManager
      .getLocalValues(org.apache.spark.storage.BroadcastBlockId(id))
      .exists(_.data.toList.exists(_.isInstanceOf[org.apache.spark.util.SerializableConfiguration]))
  }

  private def pkTable(opts: Map[String, String]): GraftTable =
    GraftTable.create(spark, tmpTable(), Seq((1L, "a", 1L)).toDF("k", "v", "n").schema,
      primaryKeys = Seq("k"), options = opts)

  private def rows(df: DataFrame): Seq[(Long, String, Long)] =
    df.select("k", "v", "n").as[(Long, String, Long)].collect().toSeq.sortBy(_._1)

  test("a warm handle's point lookups and scans broadcast nothing") {
    val t = pkTable(Map("bucket" -> "2"))
    t.upsert((1L to 50L).map(k => (k, s"v$k", k)).toDF("k", "v", "n"))
    t.upsert((10L to 20L).map(k => (k, s"u$k", -k)).toDF("k", "v", "n"))
    val (first, cold) = broadcastsOf(t.lookup(Map("k" -> 12L)))
    assert(first.map(_.toSeq) == Some(Seq(12L, "u12", -12L)))
    assert(cold >= 1, "the first read of a shape broadcasts its conf")
    val (second, warm) = broadcastsOf(t.lookup(Map("k" -> 30L)))
    assert(second.map(_.toSeq) == Some(Seq(30L, "v30", 30L)))
    assert(warm == 0, s"a warm lookup made $warm broadcasts")
    // another key set binds other filters to the same broadcast
    val (absent, warmAbsent) = broadcastsOf(t.lookup(Map("k" -> 99L)))
    assert(absent.isEmpty && warmAbsent == 0)
    // refresh() drops the cached confs: the next lookup broadcasts again
    t.refresh()
    val (_, afterRefresh) = broadcastsOf(t.lookup(Map("k" -> 30L)))
    assert(afterRefresh >= 1)
  }

  for (fmt <- Seq("parquet", "orc"))
  test(s"[$fmt] a bucket of several files merges on the driver and in tasks") {
    val t = pkTable(Map("bucket" -> "1", "file.format" -> fmt, "write-only" -> "true"))
    t.upsert((1L to 60L).map(k => (k, s"v$k", k)).toDF("k", "v", "n"))
    t.upsert((20L to 40L).map(k => (k, s"u$k", 2 * k)).toDF("k", "v", "n"))
    t.upsert((35L to 70L).map(k => (k, s"w$k", 3 * k)).toDF("k", "v", "n"))
    t.upsert(Seq(5L, 25L, 65L).map(k => (k, "x", 0L)).toDF("k", "v", "n"),
      kinds = Some(lit(GraftMeta.KindDelete)))
    assert(t.store.liveFiles(t.store.latestSnapshot.get).size == 4)
    val want = (1L to 70L).filterNot(Set(5L, 25L, 65L)).map { k =>
      if (k >= 35) (k, s"w$k", 3 * k) else if (k >= 20) (k, s"u$k", 2 * k) else (k, s"v$k", k)
    }
    // executor tasks: the merged scan, then a pushed key filter
    assert(rows(t.toDF) == want)
    assert(rows(t.toDF.filter(col("k") >= 30 && col("k") < 40)) ==
      want.filter(r => r._1 >= 30 && r._1 < 40))
    // the driver: every file of the bucket open at once, key-filtered
    Seq(1L, 5L, 21L, 36L, 70L, 71L).foreach { k =>
      assert(t.lookup(Map("k" -> k)).map(r => (r.getLong(0), r.getString(1), r.getLong(2))) ==
        want.find(_._1 == k), s"lookup($k)")
    }
    // executor tasks: the compaction rewrite, then its single-file read
    t.compact()
    assert(t.store.liveFiles(t.store.latestSnapshot.get).size == 1)
    assert(rows(t.toDF) == want)
    assert(t.lookup(Map("k" -> 36L)).map(_.getString(1)) == Some("w36"))
  }

  test("a repeated catalog query broadcasts no conf") {
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    spark.conf.set("spark.sql.catalog.graft_rr", classOf[graft.spark.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_rr.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_rr.db")
    spark.sql("CREATE TABLE graft_rr.db.t (k BIGINT, v STRING) USING graft " +
      "TBLPROPERTIES ('primary-key' = 'k', 'bucket' = '2')")
    spark.sql("INSERT INTO graft_rr.db.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("INSERT INTO graft_rr.db.t VALUES (2, 'x')")
    def query(): Seq[(Long, String)] =
      spark.sql("SELECT k, v FROM graft_rr.db.t WHERE k >= 2 ORDER BY k")
        .as[(Long, String)].collect().toSeq
    val before = confBroadcastIds
    assert(query() == Seq((2L, "x"), (3L, "c")))
    assert((confBroadcastIds -- before).nonEmpty, "the first query broadcasts its conf")
    val warm = confBroadcastIds
    assert(query() == Seq((2L, "x"), (3L, "c")))
    val added = confBroadcastIds -- warm
    assert(added.isEmpty, s"a repeated catalog query broadcast ${added.size} confs")
  }

  test("a session conf set between two reads of one handle takes effect") {
    val t = GraftTable.create(spark, tmpTable(), Seq((1L, "a")).toDF("id", "s").schema)
    t.append((1L to 100L).map(i => (i, s"s$i")).toDF("id", "s"))
    def columnar(df: DataFrame): Boolean = df.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s.supportsColumnar
    }.get
    val key = "spark.sql.parquet.enableVectorizedReader"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      val on = t.toDF.filter(col("id") > 90)
      assert(columnar(on) && on.count() == 10)
      spark.conf.set(key, "false")
      val off = t.toDF.filter(col("id") > 90)
      assert(!columnar(off), "the row reader serves the read once vectorization is off")
      assert(off.count() == 10)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
