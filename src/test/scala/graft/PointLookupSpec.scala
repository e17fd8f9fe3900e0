package graft

import graft.service.{LookupClient, LookupServer}
import graft.table.GraftTable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.util.{Failure, Success, Try}

/** Point lookups on the driver: `GraftTable.lookup` and the lookup
  * server's miss batches read the key's bucket through the scan's own
  * planner, reader and merge, with no Spark job. The oracle is the
  * DataFrame they replaced: `toDF.filter(pk === v)` for `lookup`, and
  * `to_json(struct(*))` over the same filter for the server.
  */
class PointLookupSpec extends SparkSpec {
  import spark.implicits._

  private val epoch = 1704067200L // 2024-01-01T00:00:00Z

  /** Spark jobs started while `f` runs. The listener bus delivers events
    * in order, so the jobs between a start and an end marker job are
    * exactly `f`'s, whatever earlier jobs' events were still queued.
    */
  private def jobsOf[T](f: => T): (T, Int) = {
    val (start, end) = ("point-lookup-start", "point-lookup-end")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    @volatile var counting = false
    val started = new java.util.concurrent.CountDownLatch(1)
    val ended = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `start` => counting = true; started.countDown()
          case `end` => counting = false; ended.countDown()
          case _ => if (counting) jobs.incrementAndGet()
        }
    }
    def marker(group: String, seen: java.util.concurrent.CountDownLatch): Unit = {
      spark.sparkContext.setJobGroup(group, group)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      assert(seen.await(30, java.util.concurrent.TimeUnit.SECONDS))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      marker(start, started)
      val out = f
      marker(end, ended)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Rows for keys `ks`: every key column type derives from `k`. */
  private def frame(ks: Seq[Long], v: Long => Option[String], n: Long => Long,
      pt: Long => String = k => s"p${k % 3}"): DataFrame =
    ks.map(k => (k, v(k), n(k), pt(k))).toDF("k", "v", "n", "pt").select(
      col("k"),
      concat(lit("key"), col("k")).as("s"),
      (col("k") + lit(0.25)).cast("decimal(10,2)").as("d"),
      date_add(lit("2024-01-01").cast("date"), col("k").cast("int")).as("dt"),
      timestamp_seconds(lit(epoch) + col("k") * 3600).as("ts"),
      col("pt"), col("v"), col("n"))

  /** Key column value for `k`, as a caller passes it to `lookup`. */
  private def keyOf(c: String, k: Long): Any = c match {
    case "k" => k
    case "s" => s"key$k"
    case "d" => new java.math.BigDecimal(k).add(new java.math.BigDecimal("0.25"))
    case "dt" => java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(k))
    case "ts" => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(epoch + k * 3600))
    case "pt" => s"p${k % 3}"
  }

  /** The same value as a JSON probe carries it: a number or a string. */
  private def probeOf(c: String, k: Long): Any = c match {
    case "k" => k
    case "d" => keyOf(c, k).toString
    case "dt" => keyOf(c, k).toString
    case "ts" => java.time.Instant.ofEpochSecond(epoch + k * 3600)
        .atZone(java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone")))
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    case other => keyOf(other, k)
  }

  private def pkTable(pks: Seq[String], opts: Map[String, String],
      parts: Seq[String] = Nil): GraftTable =
    GraftTable.create(spark, tmpTable(), frame(Seq(1L), _ => None, _ => 0L).schema,
      partitionKeys = parts, primaryKeys = pks, options = opts)

  /** 1..40 written, evens updated (`v = None` on partial-update shapes
    * keeps the old value), 41..45 added, then 3, 7 and 41 deleted by -D
    * where the engine takes deletes.
    */
  private def fill(t: GraftTable, deletes: Boolean = true,
      movePartition: Boolean = false, updateV: Long => Option[String] = k => Some(s"u$k")): Unit = {
    t.upsert(frame(1L to 40L, k => if (k % 5 == 0) None else Some(s"v$k"), k => k))
    val evens = (2L to 20L by 2) ++ (41L to 45L)
    t.upsert(frame(evens, updateV, k => k * 10,
      pt = k => if (movePartition && k % 4 == 0) "p9" else s"p${k % 3}"))
    if (deletes)
      t.upsert(frame(Seq(3L, 7L, 41L), _ => None, k => k * 100),
        kinds = Some(lit(GraftMeta.KindDelete)))
  }

  private val probeKs = Seq(2L, 4L, 5L, 10L, 3L, 7L, 41L, 44L, 999L)

  /** `lookup` and the server agree with the DataFrame oracle on every
    * probe key, and neither runs a Spark job. A key the oracle's filter
    * fails on must fail `lookup` too.
    */
  private def check(name: String, t: GraftTable, extraKeys: Seq[Map[String, Any]] = Nil): Unit = {
    val pks = t.schema.primaryKeys
    val keys = probeKs.map(k => pks.map(c => c -> keyOf(c, k)).toMap) ++ extraKeys
    keys.foreach { key =>
      val oracle = Try(t.toDF.filter(pks.map(c => col(c) === lit(key(c))).reduce(_ && _))
        .collect().headOption)
      val (got, jobs) = jobsOf(Try(t.lookup(key)))
      oracle match {
        case Success(o) => assert(got == Success(o), s"$name: lookup($key)")
        case Failure(e) => assert(got.isFailure, s"$name: lookup($key) = $got, the oracle threw $e")
      }
      assert(jobs == 0, s"$name: lookup($key) ran $jobs Spark jobs")
    }
    val answers = keys.flatMap(k => Try(t.lookup(k)).toOption)
    assert(answers.exists(_.isDefined) && answers.exists(_.isEmpty),
      s"$name: the probe set holds present and absent keys")
    checkServer(name, t, probeKs.map(k => pks.map(c => probeOf(c, k))), t.toDF)
  }

  /** Server miss batches equal `to_json(struct(*))` over `oracleDf` rows
    * matching `lit(v).cast(type)` keys, byte for byte; one miss batch per
    * request, no Spark job; the HTTP path answers the same rows.
    */
  private def checkServer(name: String, t: GraftTable, probes: Seq[Seq[Any]],
      oracleDf: => DataFrame, srvOpt: Option[LookupServer] = None): Unit = {
    val pks = t.schema.primaryKeys
    val types = pks.map(t.schema.fieldByName(_).sparkType)
    def oracle(ps: Seq[Seq[Any]]): Seq[String] = {
      val df = oracleDf
      val cond: Column = ps.map(p => pks.indices.map(i =>
        col(pks(i)) === lit(p(i)).cast(types(i))).reduce(_ && _)).reduce(_ || _)
      df.filter(cond).select(to_json(struct(df.columns.map(col): _*)))
        .collect().map(_.getString(0)).toSeq.sorted
    }
    val srv = srvOpt.getOrElse(new LookupServer(t)).start()
    try {
      val (batch, jobs) = jobsOf(srv.lookupBatch(probes))
      assert(batch.sorted == oracle(probes), s"$name: server batch")
      assert(jobs == 0, s"$name: a miss batch ran $jobs Spark jobs")
      val before = srv.jobsRun
      assert(before == 1, s"$name: one miss batch counted once, got $before")
      val single = probes.head
      val (one, jobs1) = jobsOf(srv.lookupBatch(Seq(single)))
      assert(one.sorted == oracle(Seq(single)) && jobs1 == 0 && srv.jobsRun == before,
        s"$name: a cached key reads nothing")
      val http = LookupClient.lookupBatch(srv.endpoint,
        probes.map(p => pks.zip(p).toMap))
      def canon(s: String) = graft.core.Json.write(graft.core.Json.parse(s))
      assert(http.map(canon).sorted == oracle(probes).map(canon).sorted, s"$name: over HTTP")
    } finally srv.stop()
  }

  test("fixed bucket, long key: present, updated, -D deleted and absent keys") {
    val t = pkTable(Seq("k"), Map("bucket" -> "4"))
    fill(t)
    check("fixed-bucket", t, extraKeys = Seq(Map("k" -> 5), Map("k" -> 1.5), Map("k" -> "4"),
      Map("k" -> " 4"), Map("k" -> "4.0"), Map("k" -> "abc"), Map("k" -> (1L << 40))))
  }

  test("ORC and Avro data files read on the driver too") {
    Seq("orc", "avro").foreach { fmt =>
      val t = pkTable(Seq("k"), Map("bucket" -> "2", "file.format" -> fmt))
      fill(t)
      check(fmt, t)
    }
  }

  test("fully compacted table reads through the raw split path") {
    val t = pkTable(Seq("k"), Map("bucket" -> "2"))
    fill(t)
    t.compact()
    check("compacted", t)
  }

  test("dynamic bucket: the hash index probe runs on the driver too") {
    val t = pkTable(Seq("k"), Map("bucket" -> "-1", "dynamic-bucket.target-row-num" -> "8"))
    fill(t)
    assert(t.store.liveFiles(t.store.latestSnapshot.get).map(_.bucket).distinct.size > 1)
    check("dynamic-bucket", t)
  }

  test("cross-partition: keys that moved partitions resolve through the global index") {
    val t = pkTable(Seq("k"), Map("bucket" -> "2"), parts = Seq("pt"))
    fill(t, movePartition = true)
    check("cross-partition", t)
  }

  test("partitioned table with the partition key in the primary key") {
    val t = pkTable(Seq("pt", "k"), Map("bucket" -> "2"), parts = Seq("pt"))
    fill(t)
    check("partitioned", t)
  }

  test("deletion vectors: masked rows stay hidden") {
    val t = pkTable(Seq("k"), Map("bucket" -> "2", "deletion-vectors.enabled" -> "true"))
    fill(t)
    check("deletion-vectors", t)
  }

  test("merge engines: partial-update, aggregation, first-row") {
    val pu = pkTable(Seq("k"), Map("bucket" -> "2", "merge-engine" -> "partial-update"))
    fill(pu, deletes = false, updateV = k => if (k % 4 == 0) None else Some(s"u$k"))
    check("partial-update", pu)
    val agg = pkTable(Seq("k"), Map("bucket" -> "2", "merge-engine" -> "aggregation",
      "fields.n.aggregate-function" -> "sum"))
    fill(agg, deletes = false)
    check("aggregation", agg)
    val fr = pkTable(Seq("k"), Map("bucket" -> "2", "merge-engine" -> "first-row"))
    fill(fr, deletes = false)
    check("first-row", fr)
  }

  test("sequence field: an older version written later loses") {
    val t = pkTable(Seq("k"), Map("bucket" -> "2", "sequence.field" -> "n"))
    fill(t)
    t.upsert(frame(Seq(2L, 5L), k => Some(s"old$k"), _ => 1L))
    check("sequence-field", t)
  }

  test("evolved schema and default values") {
    val t = pkTable(Seq("k"), Map("bucket" -> "2"))
    fill(t)
    t.addColumn("extra", org.apache.spark.sql.types.IntegerType)
    t.renameColumn("v", "name")
    t.upsert(frame(Seq(4L, 5L), k => Some(s"e$k"), k => k).withColumnRenamed("v", "name")
      .withColumn("extra", lit(7)))
    check("evolved-schema", t)
    val dv = pkTable(Seq("k"), Map("bucket" -> "2", "fields.v.default-value" -> "dflt"))
    fill(dv, updateV = k => if (k % 4 == 0) None else Some(s"u$k"))
    assert(dv.lookup(Map("k" -> 4L)).map(_.getAs[String]("v")).contains("dflt"))
    check("default-value", dv)
  }

  test("string, decimal, date and composite keys") {
    val s = pkTable(Seq("s"), Map("bucket" -> "3"))
    fill(s)
    check("string-key", s)
    val d = pkTable(Seq("d"), Map("bucket" -> "3"))
    fill(d)
    check("decimal-key", d, extraKeys = Seq(Map("d" -> BigDecimal("5.25")),
      Map("d" -> BigDecimal("5.251")), Map("d" -> "5.250"), Map("d" -> "5.251"),
      Map("d" -> 5.25), Map("d" -> "abc")))
    val dt = pkTable(Seq("dt"), Map("bucket" -> "3"))
    fill(dt)
    check("date-key", dt, extraKeys = Seq(Map("dt" -> "2024-01-06"),
      Map("dt" -> java.time.LocalDate.of(2024, 1, 11)), Map("dt" -> "2024-1-6"),
      Map("dt" -> "2024-01-06 00:00:00"), Map("dt" -> "2024-13-45")))
    val c = pkTable(Seq("s", "dt"), Map("bucket" -> "3"))
    fill(c)
    check("composite-key", c)
  }

  test("a composite-key batch plans only its keys' buckets") {
    import org.apache.spark.sql.sources.{And, EqualTo, Or}
    val t = pkTable(Seq("s", "dt"), Map("bucket" -> "8"))
    fill(t)
    val snap = t.store.latestSnapshot.get
    assert(t.store.liveFiles(snap).map(_.bucket).distinct.size > 2)
    val ks = Seq(4L, 11L)
    // the filter GraftScan.pointRead plans a 2-key batch with
    def eqs(k: Long) = And(EqualTo("s", keyOf("s", k)), EqualTo("dt", keyOf("dt", k)))
    val scan = new graft.spark.v2.GraftScan(spark, t, Some(snap), t.schema.structType,
      Seq(Or(eqs(ks(0)), eqs(ks(1)))), None)
    val buckets = scan.planInputPartitions().toSeq.flatMap(
      _.asInstanceOf[graft.spark.v2.GraftInputPartition].files.map(_.bucket)).distinct
    assert(buckets.nonEmpty && buckets.size <= 2, s"planned buckets $buckets")
    val keys = ks.map(k => Seq[Any](
      org.apache.spark.unsafe.types.UTF8String.fromString(s"key$k"),
      java.time.LocalDate.of(2024, 1, 1).plusDays(k).toEpochDay.toInt))
    val (got, jobs) = jobsOf(graft.spark.v2.GraftScan.pointRead(t, snap, t.schema, keys))
    assert(jobs == 0)
    assert(got.map(_.getUTF8String(1).toString).toSet == ks.map(k => s"key$k").toSet)
  }

  test("timestamp keys under a non-default session time zone") {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try {
      val t = pkTable(Seq("ts"), Map("bucket" -> "3"))
      fill(t)
      val ts5 = probeOf("ts", 5L).toString
      check("timestamp-key", t, extraKeys = Seq(Map("ts" -> ts5),
        Map("ts" -> ts5.replace(' ', 'T')), Map("ts" -> s"${ts5}.000")))
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("a server pinned before a later upsert serves the pinned snapshot") {
    val t = pkTable(Seq("k"), Map("bucket" -> "4"))
    fill(t)
    val pinnedId = t.store.latestSnapshotId.get
    val srv = new LookupServer(t)
    t.upsert(frame(Seq(2L, 5L, 50L), k => Some(s"late$k"), k => k))
    t.upsert(frame(Seq(4L), _ => None, k => k), kinds = Some(lit(GraftMeta.KindDelete)))
    checkServer("pinned", t, (probeKs :+ 50L).map(k => Seq(k)), t.toDF(pinnedId), Some(srv))
    check("after-upsert", t)
  }

  test("lookup names a missing or non-key column") {
    val t = pkTable(Seq("s", "dt"), Map("bucket" -> "2"))
    fill(t)
    val missing = intercept[IllegalArgumentException](t.lookup(Map("s" -> "key2")))
    assert(missing.getMessage.contains("dt"), missing.getMessage)
    val extra = intercept[IllegalArgumentException](t.lookup(Map("s" -> "key2",
      "dt" -> keyOf("dt", 2L), "v" -> "x")))
    assert(extra.getMessage.contains("v is not a primary-key column"), extra.getMessage)
  }

  test("a lookup that stops before the end of its files leaves none open") {
    val fdDir = new java.io.File("/proc/self/fd")
    assume(fdDir.isDirectory, "counts open files through /proc/self/fd")
    // over 100 columns, so the formats return rows, not batches. Spark's
    // parquet reader closes when the reader closes its Closeable iterator;
    // Avro and row-based ORC close only through a task-completion listener
    val wide = (1L to 40L).toDF("k").select(col("k") +: (0 until 101).map(i =>
      (col("k") + i).as(s"c$i")): _*)
    Seq("orc", "parquet", "avro").foreach { fmt =>
      val path = tmpTable()
      val t = GraftTable.create(spark, path, wide.schema, primaryKeys = Seq("k"),
        options = Map("bucket" -> "1", "file.format" -> fmt))
      t.upsert(wide)
      t.upsert(wide.filter(col("k") % 2 === 0))
      val dir = new java.io.File(path).getCanonicalPath
      def openUnder(): Seq[String] = fdDir.listFiles().toSeq.flatMap(f =>
        Try(java.nio.file.Files.readSymbolicLink(f.toPath).toString).toOption)
        .filter(_.startsWith(dir))
      assert(t.lookup(Map("k" -> 2L)).map(_.getLong(1)).contains(2L), fmt)
      val srv = new LookupServer(t)
      assert(srv.lookupBatch(Seq(Seq(1L), Seq(4L))).size == 2, fmt)
      assert(openUnder().isEmpty, s"$fmt: files left open: ${openUnder()}")
    }
  }

  test("a lookup over a deleted data file fails instead of answering None") {
    val t = pkTable(Seq("k"), Map("bucket" -> "1"))
    fill(t)
    val files = t.store.liveFiles(t.store.latestSnapshot.get)
    files.foreach(f => t.store.fs.delete(new org.apache.hadoop.fs.Path(t.store.rootPath, f.path), false))
    intercept[Exception](t.lookup(Map("k" -> 5L)))
    val srv = new LookupServer(t).start()
    try intercept[Exception](srv.lookupBatch(Seq(Seq(5L))))
    finally srv.stop()
  }
}
