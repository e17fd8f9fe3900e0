package graft

import graft.service.{LookupClient, LookupServer}
import graft.table.GraftTable
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The remote KV lookup service (J4; reference: paimon-service
  * KvQueryServer/KvQueryClient) — batched probes over HTTP, one
  * bucket-pruned driver-side read per miss batch (no Spark job; see
  * PointLookupSpec), key-level LRU with negative caching.
  */
class LookupServiceSpec extends SparkSpec {
  import spark.implicits._

  private def pkTable(): GraftTable = {
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (500L, "x", 99.5)).toDF("k", "v", "p")
    val t = GraftTable.create(spark, tmpTable(), df.schema,
      primaryKeys = Seq("k"), options = Map("bucket" -> "4"))
    t.upsert(df)
    t.upsert(Seq((2L, "b2", 21.0)).toDF("k", "v", "p")) // MOR state serves
    t
  }

  test("single + batch probes over HTTP; merged (MOR) state; misses absent") {
    val t = pkTable()
    val srv = new LookupServer(t).start()
    try {
      val health = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder()
          .uri(java.net.URI.create(s"${srv.endpoint}/health")).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(health.statusCode() == 200 && health.body().contains("\"k\""))

      val hit = LookupClient.lookup(srv.endpoint, Map("k" -> 2L))
      assert(hit.isDefined && hit.get.contains("\"b2\""),
        s"lookup serves the MERGED row: $hit")
      assert(LookupClient.lookup(srv.endpoint, Map("k" -> 999L)).isEmpty)

      val batch = LookupClient.lookupBatch(srv.endpoint,
        Seq(Map("k" -> 1L), Map("k" -> 3L), Map("k" -> 777L)))
      assert(batch.size == 2, s"two hits, one miss: $batch")
      assert(batch.exists(_.contains("\"a\"")) && batch.exists(_.contains("\"c\"")))
    } finally srv.stop()
  }

  test("cache: repeat probes run no new Spark job; negative results cached too") {
    val t = pkTable()
    val srv = new LookupServer(t).start()
    try {
      LookupClient.lookupBatch(srv.endpoint,
        Seq(Map("k" -> 1L), Map("k" -> 2L), Map("k" -> 777L)))
      val after1 = srv.jobsRun
      assert(after1 == 1L, "one batch of misses = ONE read of the table")
      // all three keys (incl. the absent one) now served from cache
      LookupClient.lookupBatch(srv.endpoint,
        Seq(Map("k" -> 1L), Map("k" -> 2L), Map("k" -> 777L)))
      assert(srv.jobsRun == after1, "repeat probes read nothing")
      // a genuinely new key triggers exactly one more
      LookupClient.lookup(srv.endpoint, Map("k" -> 3L))
      assert(srv.jobsRun == after1 + 1)
    } finally srv.stop()
  }

  test("remote lookup join: probe-side partitions batch to the service; hot keys cached") {
    val t = pkTable()
    val srv = new LookupServer(t).start()
    try {
      val dimSchema = t.toDF.schema
      val probes = Seq(1L, 2L, 2L, 999L, 3L).toDF("k")
      val joined = graft.streaming.LookupJoin.remote(
        probes, srv.endpoint, Seq("k"), dimSchema)
      val rows = joined.orderBy("k").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)).orNull))
      assert(rows.toSeq == Seq((1L, "a"), (2L, "b2"), (2L, "b2"), (3L, "c"),
        (999L, null)), s"left-join semantics with MERGED dim rows: ${rows.toSeq}")
      val after1 = srv.jobsRun
      // identical probe set again: every key (incl. the miss) is cached —
      // the service reads nothing
      graft.streaming.LookupJoin.remote(
        probes, srv.endpoint, Seq("k"), dimSchema).collect()
      assert(srv.jobsRun == after1, "hot keys served from the service cache")
    } finally srv.stop()
  }

  test("remote lookup join enriches a stream via foreachBatch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val t = pkTable()
    val srv = new LookupServer(t).start()
    try {
      val dimSchema = t.toDF.schema
      val input = MemoryStream[Long]
      val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      val q = input.toDF().toDF("k").writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val enriched = graft.streaming.LookupJoin.remote(
            batch, srv.endpoint, Seq("k"), dimSchema)
          sink.synchronized {
            sink ++= enriched.collect().map(r =>
              (r.getLong(0), Option(r.getString(1)).orNull))
          }
          ()
        }
        .option("checkpointLocation", tmpTable() + "-ckpt")
        .start()
      try {
        input.addData(1L, 500L)
        q.processAllAvailable()
        input.addData(2L, 42L)
        q.processAllAvailable()
      } finally q.stop()
      assert(sink.toSet == Set((1L, "a"), (500L, "x"), (2L, "b2"), (42L, null)),
        s"got ${sink.toSet}")
    } finally srv.stop()
  }

  test("server serves a PINNED snapshot; refresh() advances it and clears the cache") {
    val t = pkTable()
    val srv = new LookupServer(t).start()
    try {
      assert(LookupClient.lookup(srv.endpoint, Map("k" -> 1L)).get.contains("\"a\""))
      // a write AFTER server start: pinned view keeps serving the old row —
      // cached and freshly-scanned keys stay coherent with each other
      t.upsert(Seq((1L, "a2", 11.0), (3L, "c2", 31.0)).toDF("k", "v", "p"))
      assert(LookupClient.lookup(srv.endpoint, Map("k" -> 1L)).get.contains("\"a\""),
        "cached key: pinned-era value")
      assert(LookupClient.lookup(srv.endpoint, Map("k" -> 3L)).get.contains("\"c\""),
        "fresh scan also reads the PINNED snapshot, not latest")
      srv.refresh()
      assert(LookupClient.lookup(srv.endpoint, Map("k" -> 1L)).get.contains("\"a2\""))
      assert(LookupClient.lookup(srv.endpoint, Map("k" -> 3L)).get.contains("\"c2\""))
    } finally srv.stop()
  }

  test("batch larger than the cache answers correctly (cache is write-through only)") {
    val t = pkTable()
    // eviction pressure: 4 distinct probes, room for only 2 — entries CAN
    // be evicted between put and response assembly; the response must come
    // from the batch's own resolution, never read back from the LRU
    val srv = new LookupServer(t, maxCachedKeys = 2).start()
    try {
      val batch = LookupClient.lookupBatch(srv.endpoint,
        Seq(Map("k" -> 1L), Map("k" -> 2L), Map("k" -> 3L), Map("k" -> 500L)))
      assert(batch.size == 4, s"all four hits despite eviction pressure: $batch")
      assert(batch.exists(_.contains("\"a\"")) && batch.exists(_.contains("\"b2\"")) &&
        batch.exists(_.contains("\"c\"")) && batch.exists(_.contains("\"x\"")))
    } finally srv.stop()
  }

  test("decimal pk: probe-value rendering canonicalizes through the column type") {
    // DecimalType renders with scale ("5.00") while a JSON probe arrives as
    // 5 — cache keys must canonicalize through the pk's Spark type or an
    // existing row is reported absent AND negatively cached
    val df = Seq((BigDecimal("5.00"), "five"), (BigDecimal("7.25"), "seven"))
      .toDF("k", "v").select(col("k").cast("decimal(10,2)").as("k"), col("v"))
    val t = GraftTable.create(spark, tmpTable(), df.schema, primaryKeys = Seq("k"))
    t.upsert(df)
    val srv = new LookupServer(t).start()
    try {
      val hit = LookupClient.lookup(srv.endpoint, Map("k" -> 5L))
      assert(hit.isDefined && hit.get.contains("\"five\""),
        s"integer-rendered probe finds the decimal row: $hit")
      val hit2 = LookupClient.lookup(srv.endpoint, Map("k" -> "7.25"))
      assert(hit2.isDefined && hit2.get.contains("\"seven\""), s"got $hit2")
      assert(LookupClient.lookup(srv.endpoint, Map("k" -> 6L)).isEmpty)
    } finally srv.stop()
  }

  test("auto-refresh: a newer snapshot becomes visible without calling refresh()") {
    val t = pkTable()
    val srv = new LookupServer(t, refreshIntervalMs = 50L).start()
    try {
      assert(LookupClient.lookup(srv.endpoint, Map("k" -> 1L)).get.contains("\"a\""))
      t.upsert(Seq((1L, "a2", 11.0)).toDF("k", "v", "p"))
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var v = LookupClient.lookup(srv.endpoint, Map("k" -> 1L)).get
      while (!v.contains("\"a2\"") && System.nanoTime() < deadline) {
        Thread.sleep(50)
        v = LookupClient.lookup(srv.endpoint, Map("k" -> 1L)).get
      }
      assert(v.contains("\"a2\""), s"poller re-pins and clears the cache: $v")
    } finally srv.stop()
  }

  test("composite primary keys probe as AND-of-equalities") {
    val df = Seq(("us", 1L, "aa"), ("us", 2L, "ab"), ("eu", 1L, "ba"))
      .toDF("region", "id", "v")
    val t = GraftTable.create(spark, tmpTable(), df.schema,
      primaryKeys = Seq("region", "id"))
    t.upsert(df)
    val srv = new LookupServer(t).start()
    try {
      val hit = LookupClient.lookup(srv.endpoint, Map("region" -> "eu", "id" -> 1L))
      assert(hit.isDefined && hit.get.contains("\"ba\""), s"got $hit")
      assert(LookupClient.lookup(srv.endpoint,
        Map("region" -> "eu", "id" -> 2L)).isEmpty)
    } finally srv.stop()
  }

  test("a server over an empty table answers [] until a commit and refresh()") {
    val df = Seq((1L, "a", 10.0)).toDF("k", "v", "p")
    val t = GraftTable.create(spark, tmpTable(), df.schema,
      primaryKeys = Seq("k"), options = Map("bucket" -> "2"))
    val srv = new LookupServer(t).start()
    try {
      assert(LookupClient.lookupBatch(srv.endpoint, Seq(Map("k" -> 1L))).isEmpty)
      assert(srv.jobsRun == 1L, "a miss batch counts even with nothing to read")
      t.upsert(df)
      assert(LookupClient.lookup(srv.endpoint, Map("k" -> 1L)).isEmpty,
        "the empty pin and its negative cache hold until refresh()")
      srv.refresh()
      val hit = LookupClient.lookup(srv.endpoint, Map("k" -> 1L))
      assert(hit.isDefined && hit.get.contains("\"a\""), s"got $hit")
    } finally srv.stop()
  }

  test("a schema change after the pin leaves misses in the pinned shape") {
    val t = pkTable()
    val srv = new LookupServer(t).start()
    try {
      val before = LookupClient.lookup(srv.endpoint, Map("k" -> 1L))
      t.addColumn("extra", org.apache.spark.sql.types.IntegerType)
      t.renameColumn("v", "name")
      val miss = LookupClient.lookup(srv.endpoint, Map("k" -> 3L)) // no refresh()
      def fields(j: Option[String]) = j.map(s =>
        graft.core.Json.parse(s).fieldNames().asScala.toSeq)
      assert(fields(before) == Some(Seq("k", "v", "p")), s"got $before")
      assert(fields(miss) == fields(before) && miss.get.contains("\"c\""),
        s"a miss of the same pin renders as its hits: $miss")
      srv.refresh() // the new shape; to_json leaves out the null `extra`
      val after = LookupClient.lookup(srv.endpoint, Map("k" -> 3L))
      assert(fields(after) == Some(Seq("k", "name", "p")), s"got $after")
    } finally srv.stop()
  }

  test("lookupBatches fails like lookupBatch against a closed port") {
    // a port nothing listens on: bind an ephemeral one, then release it
    val port = {
      val sock = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
      try sock.getLocalPort finally sock.close()
    }
    val endpoint = s"http://127.0.0.1:$port"
    val keys = Seq(Map[String, Any]("k" -> 1L))
    val single = intercept[Exception](LookupClient.lookupBatch(endpoint, keys))
    val fanned = intercept[Exception](LookupClient.lookupBatches(endpoint, Seq(keys, keys)))
    assert(!fanned.isInstanceOf[java.util.concurrent.CompletionException], fanned.toString)
    assert(fanned.getClass == single.getClass, s"$fanned vs $single")
  }
}
