package graft

import graft.table.GraftTable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** File skipping returns Spark's own answer on values whose order differs
  * between Spark and a naive comparison: strings beyond U+FFFF, bounds
  * truncated next to a surrogate pair, signed zeros and NaN. Each case
  * writes its rows into ONE file per table, then compares the table's
  * filtered count (stats pushed down) with the same filter over the source
  * rows (nothing pushed down), on every file format and on a bloom table.
  */
class StatsSemanticsSpec extends SparkSpec {
  import spark.implicits._

  private val tables: Seq[(String, Map[String, String])] =
    Seq("parquet", "orc", "avro").map(f => f -> Map("file.format" -> f)) :+
      ("parquet+bloom" -> Map("file-index.bloom.columns" -> "k"))

  private def check(what: String, df: DataFrame, preds: Column*): Unit =
    for ((name, opts) <- tables) {
      val t = GraftTable.create(spark, tmpTable(), df.schema,
        options = opts + ("write-only" -> "true"))
      t.append(df.coalesce(1))
      assert(t.store.liveFiles(t.store.latestSnapshot.get).size == 1)
      preds.foreach { p =>
        val expected = df.filter(p).count()
        assert(expected > 0, s"$what: $p selects nothing from the source")
        assert(t.toDF.filter(p).count() == expected, s"$what on $name: $p")
      }
    }

  private val emoji = "😀" // U+1F600

  test("strings above U+FFFF compare in UTF-8 byte order") {
    val df = Seq((1L, "�"), (2L, emoji)).toDF("k", "s")
    check("U+FFFD / U+1F600", df,
      col("s") === emoji, col("s") === "�", col("s") > "�",
      col("s").startsWith(emoji))
  }

  test("a string bound truncated next to a surrogate pair stays an outer bound") {
    val long = "a" * 63 + emoji + "zzzz"
    val df = Seq((1L, "a"), (2L, long)).toDF("k", "s")
    check("63 x a + emoji + zzzz", df, col("s") === long, col("s") >= long)
  }

  test("signed zeros are equal for file skipping") {
    check("file holds 0.0", Seq((1L, 0.0)).toDF("k", "x"),
      col("x") === -0.0, col("x") <= -0.0)
    check("file holds -0.0", Seq((1L, -0.0)).toDF("k", "x"),
      col("x") === 0.0, col("x") >= 0.0)
  }

  test("MIN/MAX answered from stats keep the sign of a zero") {
    for (v <- Seq(0.0, -0.0)) {
      val df = Seq((1L, v)).toDF("k", "x")
      val t = GraftTable.create(spark, tmpTable(), df.schema)
      t.append(df)
      val tbl = new graft.spark.v2.GraftSparkTable(spark, t,
        org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty[String], "t"),
        t.store.latestSnapshot)
      val agg = org.apache.spark.sql.graft.SparkShims.ofRows(spark,
        org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
          .create(tbl, None, None)).agg(min("x"), max("x"))
      assert(agg.queryExecution.executedPlan.toString.contains("LocalTableScan"))
      val r = agg.head
      // 0.0 == -0.0 numerically: compare the bits
      def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
      assert(bits(r.getDouble(0)) == bits(v) && bits(r.getDouble(1)) == bits(v), s"$v: $r")
    }
  }

  test("NaN is the greatest double for file skipping") {
    val df = Seq((1L, 1.0), (2L, Double.NaN)).toDF("k", "x")
    check("{1.0, NaN}", df, col("x") > 5.0, col("x") === Double.NaN)
  }

  test("zero-row files are never committed, on any format") {
    val df = Seq((1L, "a")).toDF("k", "s")
    for ((name, opts) <- tables) {
      val t = GraftTable.create(spark, tmpTable(), df.schema,
        options = opts + ("write-only" -> "true"))
      t.append(df.limit(0))
      assert(t.store.liveFiles(t.store.latestSnapshot.get).isEmpty, name)
      t.append(df)
      assert(t.store.liveFiles(t.store.latestSnapshot.get).map(_.rowCount) == Seq(1L), name)
      assert(t.toDF.count() == 1, name)
    }
  }

  test("stats cost no Spark job of their own on any format") {
    val df = spark.range(2000).select(col("id").as("k"), col("id").cast("string").as("s"))
    val marker = "stats-spec-marker"
    def jobsOf(f: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val markerSeen = new java.util.concurrent.CountDownLatch(1)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
            markerSeen.countDown()
          else jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        f
        // events arrive in order: once the marker job is seen, so are all
        // the jobs `f` started
        spark.sparkContext.setJobGroup(marker, marker)
        try spark.sparkContext.parallelize(Seq(1), 1).count()
        finally spark.sparkContext.clearJobGroup()
        assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
      } finally spark.sparkContext.removeSparkListener(listener)
      jobs.get
    }
    val counts = tables.map { case (name, opts) =>
      val t = GraftTable.create(spark, tmpTable(), df.schema,
        options = opts + ("write-only" -> "true"))
      t.append(df) // warm-up
      name -> jobsOf(t.append(df))
    }
    // the write is the append's only job on every table (a stats aggregate
    // over the staged files would add its own jobs: two under AQE)
    assert(counts.forall(_._2 == 1), counts)
  }
}
