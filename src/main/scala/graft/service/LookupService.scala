package graft.service

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.core.{Snapshot, TableSchema}
import graft.spark.v2.GraftScan
import graft.table.GraftTable
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, CreateNamedStruct, Expression, Literal, StructsToJson}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** Remote KV lookup service (reference: paimon-service —
  * `KvQueryServer.java` / `KvQueryClient.java`, the network endpoint
  * Flink lookup joins probe instead of scanning; closes §2 row J4).
  *
  * Spark-first shape: the server pins a table handle and answers pk
  * probes over HTTP (JDK `com.sun.net.httpserver` — zero dependencies).
  * Probes arrive BATCHED — the natural unit of a streaming lookup join's
  * micro-batch — and each batch of cache misses is resolved by ONE read on
  * the driver ([[GraftScan.pointRead]], shared with `GraftTable.lookup`):
  * the scan's planner prunes to the keys' buckets and its reader merges
  * them on the handler thread, with no Spark job. Results land in a
  * key-level LRU so hot keys (the lookup-join steady state) are served
  * memory-speed without reading the table at all — the cache role the
  * reference fills with its LookupFile/RocksDB layer.
  *
  * Scale shape: the server is a thin stateless-ish front over the
  * table's own pruned-scan path — N servers can front the same table
  * (shared-nothing, each with its own cache), and cache memory is
  * bounded by `maxCachedKeys`, not table size.
  *
  * Wire protocol (JSON over HTTP):
  * {{{
  *   GET  /health            -> {"table": <path>, "primaryKeys": [...]}
  *   POST /lookup            body: [{"pk1": v, ...}, ...]
  *                           -> [rowJson, ...]   (found rows only)
  * }}}
  */
class LookupServer(table: GraftTable, host: String = "127.0.0.1",
    requestedPort: Int = 0, maxCachedKeys: Int = 100000,
    refreshIntervalMs: Long = -1L) {
  require(table.isPrimaryKeyed, "lookup service requires a primary-key table")
  private val pks = table.schema.primaryKeys
  private val pkFields = pks.map(table.schema.fieldByName)

  // the server serves a PINNED snapshot so cached and freshly-scanned
  // values are COHERENT (a per-probe latest-snapshot read would mix
  // cache-era rows with newer ones). `refresh()` advances the pin and
  // clears the cache — the reference's periodic lookup refresh. With
  // `refreshIntervalMs > 0` a daemon poller re-pins AUTOMATICALLY when a
  // newer snapshot exists (one latest-snapshot-id stat per interval, no
  // data read) — without it a long-running enrichment stream would serve
  // stale dims forever unless the operator remembers to call refresh().
  // The schema pins with the snapshot, so misses render in the shape the
  // cached hits have until the next refresh; it is read after the
  // snapshot, so it is at least as new as every file the snapshot holds.
  // None = the table had no snapshot yet: every probe is absent.
  private def latestPin: Option[(Snapshot, TableSchema)] =
    table.store.latestSnapshot.map(s => (s, table.schema))
  @volatile private var pinned: Option[(Snapshot, TableSchema)] = latestPin
  // pin generation: bumped by every refresh so an in-flight batch that
  // scanned the PREVIOUS pin cannot repopulate the freshly cleared cache
  // with old-snapshot rows (they would serve as stale hits until the next
  // advance) — lookupBatch re-checks the era before its write-through
  private val pinEra = new java.util.concurrent.atomic.AtomicLong()
  def refresh(): Unit = synchronized {
    pinned = latestPin
    pinEra.incrementAndGet()
    cache.clear()
    rowJson = None
    table.refresh()
  }

  private val refresher: Option[java.util.concurrent.ScheduledExecutorService] =
    if (refreshIntervalMs <= 0) None
    else {
      val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
        (r: Runnable) => { val t = new Thread(r, "lookup-refresh"); t.setDaemon(true); t })
      ex.scheduleWithFixedDelay(() => {
        try {
          // cheap stat: re-pin (and drop the cache) only on a real advance
          if (table.store.latestSnapshotId != pinned.map(_._1.id)) refresh()
        } catch { case _: Exception => () } // transient FS error: retry next tick
      }, refreshIntervalMs, refreshIntervalMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      Some(ex)
    }

  /** Miss batches resolved from the table so far (one per batch with a
    * cache miss) — observability + lets tests assert cache hits.
    */
  private val jobsRunCount = new java.util.concurrent.atomic.AtomicLong()
  def jobsRun: Long = jobsRunCount.get()

  // key-level LRU (access-order); values are the row's JSON, or None for
  // a proven-absent key (negative caching — absent probes are the common
  // case in enrichment joins and must not re-scan every batch)
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Seq[String], Option[String]](1024, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Seq[String], Option[String]]): Boolean =
        size() > maxCachedKeys
    })

  private val server = HttpServer.create(new InetSocketAddress(host, requestedPort), 0)

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  server.createContext("/health", (ex: HttpExchange) => {
    val n = graft.core.Json.obj()
    n.put("table", table.location)
    val arr = n.putArray("primaryKeys")
    pks.foreach(arr.add)
    respond(ex, 200, graft.core.Json.write(n))
  })

  server.createContext("/lookup", (ex: HttpExchange) => {
    try {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val keys = graft.core.Json.elems(graft.core.Json.parse(body)).map { o =>
        pks.map { p =>
          val v = o.get(p)
          require(v != null, s"probe missing pk column $p")
          if (v.isIntegralNumber) v.asLong().asInstanceOf[Any]
          else if (v.isFloatingPointNumber) v.asDouble().asInstanceOf[Any]
          else v.asText().asInstanceOf[Any]
        }
      }
      val found = lookupBatch(keys)
      respond(ex, 200, found.mkString("[", ",", "]"))
    } catch {
      case e: Exception => respond(ex, 400, s"""{"error":${jsonStr(e.getMessage)}}""")
    }
  })

  private def jsonStr(s: String): String =
    graft.core.Json.write(graft.core.Json.obj().put("m", s)).drop(5).dropRight(1)

  /** Canonical cache key of a probe: every component is rendered THROUGH
    * the pk column's Spark type (stringify → Catalyst cast in the session
    * time zone → stringify the Catalyst value), which is how a found row's
    * own Catalyst pk values render (see [[readMisses]]). A raw
    * `String.valueOf` on both sides diverges for types whose renderings
    * differ (DecimalType probe "5" vs row "5.00", timestamps) and would
    * report an existing row absent — and then negatively cache the miss.
    */
  private def cacheKey(k: Seq[Any]): Seq[String] = k.zip(pkFields).map {
    // NUL-prefixed sentinel (written as an expression to keep this file
    // free of raw control bytes): cannot collide with any cast rendering
    case (null, _) => "\u0000" + "null"
    case (v, f) =>
      String.valueOf(Cast(Literal(UTF8String.fromString(String.valueOf(v)), StringType),
        f.sparkType, Some(SQLConf.get.sessionLocalTimeZone)).eval(null))
  }

  /** Resolve a batch of probes: cache hits are free; all misses fold into
    * ONE bucket-pruned read of the pinned snapshot on this thread. Returns
    * found rows' JSON (order unspecified, duplicates collapsed). Runs with
    * the table's session active: handler threads have none, and the casts,
    * the read and the JSON rendering read its conf (time zone, ANSI mode).
    */
  def lookupBatch(keys: Seq[Seq[Any]]): Seq[String] = GraftScan.withSession(table.spark) {
    // canonical key → one representative raw probe; dup probes (including
    // rendering-only dups like 5 vs "5.00" on a decimal pk) collapse here
    val byCk = scala.collection.mutable.LinkedHashMap[Seq[String], Seq[Any]]()
    keys.foreach { k => val ck = cacheKey(k); if (!byCk.contains(ck)) byCk(ck) = k }
    // responses are built from this local map, NEVER read back from the
    // LRU: an entry evicted between put and read (batch larger than
    // maxCachedKeys, concurrent eviction pressure) must not fail the batch
    val resolved = scala.collection.mutable.Map[Seq[String], Option[String]]()
    val misses = byCk.toSeq.filter { case (ck, _) =>
      val cached = cache.get(ck) // also bumps LRU recency on hit
      if (cached != null) { resolved(ck) = cached; false } else true
    }
    if (misses.nonEmpty) {
      jobsRunCount.incrementAndGet()
      val era = pinEra.get()
      val foundByKey = pinned.fold(Map.empty[Seq[String], String]) {
        case (snap, schema) => readMisses(snap, schema, misses.map(_._2))
      }
      // if refresh() advanced the pin while we scanned, the response is
      // still served from this batch's (consistent, old-pin) resolution,
      // but the write-through is SKIPPED: old-snapshot rows must not
      // repopulate the freshly cleared cache as future hits. The era
      // check + puts share refresh()'s monitor, so a refresh cannot
      // interleave between them.
      misses.foreach { case (ck, _) => resolved(ck) = foundByKey.get(ck) }
      synchronized {
        if (pinEra.get() == era)
          misses.foreach { case (ck, _) => cache.put(ck, foundByKey.get(ck)) }
      }
    }
    byCk.keysIterator.flatMap(ck => resolved(ck)).toSeq
  }

  /** Found rows of `snap` for raw probe keys, by cache key, each rendered
    * as `to_json(struct(*))` renders it over `schema`. Keys cast to the pk
    * types as `lit(v).cast(type)` does; the read matches rows to them in
    * the Catalyst domain, so only found rows render a cache key.
    */
  private def readMisses(snap: Snapshot, schema: TableSchema,
      keys: Seq[Seq[Any]]): Map[Seq[String], String] = {
    val tz = Some(SQLConf.get.sessionLocalTimeZone)
    val out = schema.structType
    val rows = GraftScan.pointRead(table, snap, schema, keys.map(_.zip(pkFields).map {
      case (v, f) => Cast(Literal(v), f.sparkType, tz).eval()
    }))
    val json = rowJson.filter(_._1 == (schema.id, tz)).map(_._2).getOrElse {
      val e = StructsToJson(Map.empty, CreateNamedStruct(out.fields.toSeq.zipWithIndex.flatMap {
        case (f, i) => Seq(Literal(f.name), BoundReference(i, f.dataType, f.nullable))
      }), tz).replacement
      rowJson = Some((schema.id, tz) -> e)
      e
    }
    val pkIdx = pks.map(out.fieldIndex)
    // the evaluator reuses its JSON writer: handler threads take turns
    json.synchronized(rows.map(r => pkIdx.map(i => String.valueOf(r.get(i, out(i).dataType))) ->
      json.eval(r).toString).toMap)
  }

  /** The `to_json(struct(*))` evaluator of `readMisses`, for the schema id
    * and time zone it was built for.
    */
  @volatile private var rowJson: Option[((Long, Option[String]), Expression)] = None

  def start(): LookupServer = {
    // a real pool, not the calling thread: concurrent probes from many
    // stream partitions must not serialize through one HTTP handler
    // (cache misses racing on the same key read it twice at worst — the
    // LRU is a synchronized map)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.start(); this
  }
  def port: Int = server.getAddress.getPort
  def endpoint: String = s"http://$host:$port"
  def stop(): Unit = {
    refresher.foreach(_.shutdownNow())
    server.stop(0)
    server.getExecutor match {
      case p: java.util.concurrent.ExecutorService => p.shutdown()
      case _ => ()
    }
  }
}

/** Client side (reference: paimon-service `KvQueryClient.java`): batch
  * probes to a [[LookupServer]]. Returns found rows' JSON only — callers
  * join against the probe set to see misses.
  */
object LookupClient {
  private lazy val http = java.net.http.HttpClient.newHttpClient()

  private def requestFor(endpoint: String,
      keys: Seq[Map[String, Any]]): java.net.http.HttpRequest = {
    val arr = graft.core.Json.arr()
    keys.foreach { k =>
      val o = arr.addObject()
      k.foreach {
        case (n, v: Long) => o.put(n, v)
        case (n, v: Int) => o.put(n, v.toLong)
        case (n, v: Double) => o.put(n, v)
        case (n, v) => o.put(n, String.valueOf(v))
      }
    }
    java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"$endpoint/lookup"))
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
        graft.core.Json.write(arr)))
      .build()
  }

  private def parseResponse(resp: java.net.http.HttpResponse[String]): Seq[String] = {
    require(resp.statusCode() == 200, s"lookup failed: ${resp.body()}")
    graft.core.Json.elems(graft.core.Json.parse(resp.body()))
      .map(graft.core.Json.write)
  }

  def lookupBatch(endpoint: String, keys: Seq[Map[String, Any]]): Seq[String] =
    parseResponse(http.send(requestFor(endpoint, keys),
      java.net.http.HttpResponse.BodyHandlers.ofString()))

  /** Several independent probe batches IN FLIGHT AT ONCE (async HTTP):
    * the production shape of a streaming lookup join, where many stream
    * partitions probe concurrently — the server's handler pool resolves
    * each batch's misses on its own handler thread, and the threads overlap
    * the reads, so wall time is max(batch) instead of sum(batch). Results are
    * returned per batch, in request order — element i is exactly what
    * `lookupBatch(endpoint, batches(i))` returns, and a failure throws
    * the same exception `lookupBatch` would.
    */
  def lookupBatches(endpoint: String,
      batches: Seq[Seq[Map[String, Any]]]): Seq[Seq[String]] = {
    // strict fan-out: a lazy Seq would send each request only when the
    // previous response is joined, serializing the batches
    val inFlight = batches.iterator.map(b => http.sendAsync(requestFor(endpoint, b),
      java.net.http.HttpResponse.BodyHandlers.ofString())).toVector
    inFlight.map { f =>
      val resp =
        try f.join()
        catch { case e: java.util.concurrent.CompletionException if e.getCause != null =>
          throw e.getCause }
      parseResponse(resp)
    }
  }

  def lookup(endpoint: String, key: Map[String, Any]): Option[String] =
    lookupBatch(endpoint, Seq(key)).headOption
}
