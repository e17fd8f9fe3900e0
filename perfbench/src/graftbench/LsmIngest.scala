package graftbench

import graft.GraftMeta
import graft.service.{LookupClient, LookupServer}
import graft.table.GraftTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, round => roundTo}
import org.apache.spark.sql.types.{ByteType, StructField, StructType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** lsm_ingest: a stream of upsert batches into an orders-shaped, bucketed
  * primary-key table with the default auto-compaction, append commits into a
  * lineitem-shaped log, and the reads that serve them.
  *
  * Each round: one upsert (1k..6k rows on a fixed schedule, ~10% new keys, ~5% `-D` deletes,
  * updates favouring recently written keys), and every third round an append
  * of 2000 line items with recent ship dates; then reads and lookups, checked
  * against a last-writer-wins model of the generated batches:
  *  - every round, a merge-on-read aggregate over the whole table through
  *    the long-lived table handle (warm manifest cache);
  *  - in turn, one of: a primary-key range aggregate as SQL through the
  *    catalog, which loads a fresh table handle per query (cold manifest
  *    cache); a partition- and stats-pruned scan of the log through its
  *    handle; the storage-partitioned join of the table with a static,
  *    equally bucketed order-dimension table, as SQL;
  *  - every round, `GraftTable.lookup` of a key just inserted or just deleted;
  *  - in turn, one LookupServer probe of the dimension table: a hot key, a
  *    uniform key or a 16-key batch (8 hot, 6 uniform, 2 absent). The hot set
  *    (16 keys) fits the server's 100k-key cache; the uniform keys range over
  *    all 150k, 1.5x the cache.
  */
final class LsmIngest(spark: SparkSession, rec: Recorder, ls: LayerStats, seed: Long)
    extends Workload {
  import LsmIngest._

  private val ops = new Ops(rec, ls)
  // generated by Spark tasks: the closures capture the seed, not this class
  private val (ordersIn, itemsIn, dimIn) = {
    val s = seed
    (Inputs.generate(spark, "orders", Gen.SfOrders, Gen.OrderSchema)(k => Gen.orderAt(s, k).row),
      Inputs.generate(spark, "lineitem", InitialItems, Gen.ItemSchema)(
        i => Gen.itemAt(s, i, InitialItems).row),
      Inputs.generate(spark, "orders_dim", Gen.SfOrders, Gen.DimSchema)(k => Gen.dimAt(s, k)))
  }
  private val dimPriority: Array[String] =
    Array.tabulate(Gen.SfOrders)(k => Gen.dimPriorityAt(seed, k))
  /** Logical bytes of the dimension table: key, priority, 16-char clerk. */
  private val dimBytes = dimPriority.map(8L + _.length + 16).sum
  private val initialOrders = Array.tabulate(Gen.SfOrders)(k => Gen.orderAt(seed, k))
  private val initialItems = Array.tabulate(InitialItems)(i => Gen.itemAt(seed, i, InitialItems))
  spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")

  private var dir: String = _
  private var ns: String = _
  private var pk: GraftTable = _
  private var log: GraftTable = _
  private var server: Option[LookupServer] = None
  // last-writer-wins model of the primary-key table, and the log's rows
  private val model = mutable.HashMap.empty[Long, Gen.Order]
  private var modelCents = 0L
  private val logItems = mutable.ArrayBuffer.empty[Gen.Item]
  private var logDay = Gen.Days
  private var written = 0L
  private var nextKey = 0L
  private val recent = new Array[Long](RecentWindow)
  private var recentN = 0L
  private val r = Gen.rng(seed, 11)
  /** What the last round saw, as (what, got, model), checked between rounds. */
  private val seen = mutable.ArrayBuffer.empty[(String, Any, () => Any)]

  private val KindSchema = StructType(Gen.OrderSchema.fields :+ StructField("_kind", ByteType))

  def setup(d: String): Unit = {
    dir = d
    ns = new java.io.File(d).getName
    server.foreach(_.stop())
    pk = GraftTable.create(spark, s"$dir/orders", Gen.OrderSchema,
      primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> Buckets.toString))
    pk.upsert(spark.read.parquet(ordersIn))
    log = GraftTable.create(spark, s"$dir/lineitem_log", Gen.ItemSchema,
      partitionKeys = Seq("l_returnflag"))
    log.append(spark.read.parquet(itemsIn))
    spark.sql(s"CREATE TABLE graft.$ns.orders_dim (o_orderkey BIGINT, d_priority STRING, " +
      s"d_clerk STRING) USING graft TBLPROPERTIES ('primary-key' = 'o_orderkey', " +
      s"'bucket' = '$Buckets')")
    spark.read.parquet(dimIn).createOrReplaceTempView("lsm_orders_dim")
    spark.sql(s"INSERT INTO graft.$ns.orders_dim SELECT * FROM lsm_orders_dim")
    server = Some(new LookupServer(GraftTable.load(spark, s"$dir/orders_dim")).start())
  }

  /** The model of the state set-up built, and the lookup service's hot set
    * loaded into its cache, as a long-running service would have it;
    * benchmark work, so untimed.
    */
  override def afterSetup(): Unit = {
    LookupClient.lookupBatch(server.get.endpoint,
      (0L until HotKeys).map(k => Map[String, Any]("o_orderkey" -> k)))
    model.clear(); modelCents = 0L; recentN = 0L
    initialOrders.foreach(put)
    nextKey = Gen.SfOrders
    logItems.clear(); logItems ++= initialItems; logDay = Gen.Days
    written = 0L
  }

  private def put(o: Gen.Order): Unit = {
    model.put(o.key, o).foreach(old => modelCents -= old.cents)
    modelCents += o.cents
    recent((recentN % RecentWindow).toInt) = o.key
    recentN += 1
  }

  private def remove(key: Long): Unit = model.remove(key).foreach(old => modelCents -= old.cents)

  /** A key to update: mostly one written recently, else any key so far. */
  private def updateKey(): Long =
    if (r.nextInt(100) < 70) recent(r.nextInt(math.min(recentN, RecentWindow).toInt))
    else r.nextLong(nextKey)

  private val cents = (c: String) => sum(roundTo(col(c) * 100).cast("long"))

  private def read(name: String, what: String, want: => Any)(df: => DataFrame): Unit =
    rec.op("read", name)(ops.collect(df)).foreach(rows =>
      seen += ((what, rows.map(_.toSeq).toSeq.sortBy(_.toString), () => want)))

  def round(n: Int): Unit = {
    seen.clear()
    // the upsert batch, one row per key; sizes follow the same schedule for
    // every seed, so runs differ in data, not in work
    val size = 1000 + (n * 1931) % 5000
    val batch = mutable.LinkedHashMap.empty[Long, (Gen.Order, Byte)]
    val inserted = mutable.ArrayBuffer.empty[Long]
    while (batch.size < size) {
      val dice = r.nextInt(100)
      if (dice < 10) {
        batch(nextKey) = (Gen.order(r, nextKey), GraftMeta.KindInsert)
        inserted += nextKey
        nextKey += 1
      }
      else {
        val k = updateKey()
        batch(k) = (Gen.order(r, k), if (dice < 15) GraftMeta.KindDelete else GraftMeta.KindInsert)
      }
    }
    val rows = batch.values.map { case (o, kind) => Row.fromSeq(o.row.toSeq :+ kind) }.toSeq
    // the ingest batch: the upsert, then a merge-on-read aggregate over the
    // whole table through the warm handle that must see it (read-your-writes;
    // the model it is checked against is evaluated after the round)
    rec.batch {
      rec.op("commit", "upsert") {
        val df = rec.span("spark", "frame")(spark.createDataFrame(rows.asJava, KindSchema))
        rec.span("table", "upsert")(pk.upsert(df, kinds = Some(col("_kind"))))
      }
      read("mor_agg", "mor_agg", Seq(Seq(model.size.toLong, modelCents))) {
        ops.plan(pk)
        ops.toDF(pk).agg(count(lit(1)), cents("o_totalprice"))
      }
    }
    batch.values.foreach { case (o, kind) =>
      if (kind == GraftMeta.KindDelete) remove(o.key) else put(o)
    }
    written += batch.values.map(_._1.bytes).sum

    // every third round the log grows by line items shipped in the next month
    if (n % 3 == 2) {
      val items = Array.fill(AppendRows)(Gen.item(r, Gen.SfOrders, logDay + r.nextInt(30)))
      logDay += 30
      rec.op("commit", "append") {
        val df = rec.span("spark", "frame")(
          spark.createDataFrame(items.map(_.row).toSeq.asJava, Gen.ItemSchema))
        rec.span("table", "append")(log.append(df))
      }
      logItems ++= items
      written += items.map(_.bytes).sum
    }

    // then one of the other reads, in turn
    n % 3 match {
      case 0 =>
        // key range as SQL through the catalog: a fresh handle, cold cache
        val a = r.nextLong(nextKey - RangeKeys)
        read("range", s"range[$a]", {
          val in = (a until a + RangeKeys).flatMap(model.get)
          Seq(Seq(in.size.toLong, in.map(_.cents).sum))
        })(spark.table(s"graft.$ns.orders")
          .filter(col("o_orderkey") >= a && col("o_orderkey") < a + RangeKeys)
          .agg(count(lit(1)), cents("o_totalprice")))
      case 1 =>
        // partition and stats pruning on the log: one flag, a 180-day window
        val flag = Gen.ReturnFlags(r.nextInt(3))
        val d1 = r.nextInt(logDay - 180)
        read("pruned", s"pruned[$flag,$d1]", {
          val in = logItems.filter(i => i.flag == flag && i.day >= d1 && i.day < d1 + 180)
          Seq(Seq(in.size.toLong, in.map(_.priceCents).sum))
        }) {
          ops.plan(log)
          ops.toDF(log).filter(col("l_returnflag") === flag &&
              col("l_shipdate") >= lit(Gen.ts(d1)) && col("l_shipdate") < lit(Gen.ts(d1 + 180)))
            .agg(count(lit(1)), cents("l_extendedprice"))
        }
      case _ =>
        // storage-partitioned join with the dimension table
        read("spj", "spj", model.valuesIterator.filter(_.key < Gen.SfOrders).toSeq
            .groupBy(o => dimPriority(o.key.toInt)).toSeq
            .map { case (p, os) => Seq(p, os.size.toLong, os.map(_.cents).sum) }.sortBy(_.toString)) {
          spark.table(s"graft.$ns.orders").join(spark.table(s"graft.$ns.orders_dim"), "o_orderkey")
            .groupBy("d_priority").agg(count(lit(1)), cents("o_totalprice"))
        }
    }

    // a point lookup of a key just written: one just inserted in even
    // rounds, one just deleted in odd ones (else any key of the batch)
    val keys = batch.keys.toIndexedSeq
    def any = keys(r.nextInt(keys.size))
    val deleted = batch.collectFirst { case (k, (_, GraftMeta.KindDelete)) => k }
    val k =
      if (n % 2 == 0) { if (inserted.isEmpty) any else inserted(r.nextInt(inserted.size)) }
      else deleted.getOrElse(any)
    rec.op("lookup", "table")(rec.span("table", "lookup")(pk.lookup(Map("o_orderkey" -> k))))
      .foreach(got => seen += ((s"lookup($k)", got.map(_.toSeq), () => model.get(k).map(_.row.toSeq))))
    // one lookup-service probe of the dimension table, in turn: a hot key
    // (a cache hit once the hot set has been seen), a uniform key (mostly a
    // miss), and a batch mixing hot, uniform and absent keys
    def hot = r.nextLong(HotKeys)
    def uniform = r.nextLong(Gen.SfOrders)
    def absent = Gen.SfOrders + r.nextLong(Gen.SfOrders)
    (n / 3) % 3 match {
      case 0 => probe("hot", Seq(hot))
      case 1 => probe("uniform", Seq(uniform))
      case _ => probe("mixed", Seq.fill(8)(hot) ++ Seq.fill(6)(uniform) ++ Seq.fill(2)(absent))
    }
  }

  private def probe(name: String, keys: Seq[Long]): Unit = {
    val srv = server.get
    val jobs0 = srv.jobsRun
    val t0 = System.nanoTime()
    val got = rec.op("lookup", s"service_$name")(rec.span("service", "lookupBatch")(
      LookupClient.lookupBatch(srv.endpoint, keys.map(k => Map[String, Any]("o_orderkey" -> k)))))
    val ms = (System.nanoTime() - t0) / 1e6
    val jobs = srv.jobsRun - jobs0
    ls.count("service.requests", 1)
    ls.count("service.keys", keys.distinct.size)
    ls.count("service.jobs", jobs.toDouble)
    if (jobs == 0) { ls.count("service.hit_requests", 1); ls.call("service.hit_ms", ms) }
    else ls.call("service.miss_ms", ms)
    got.foreach { rows =>
      val found = rows.map { j =>
        val o = graft.core.Json.parse(j)
        o.get("o_orderkey").asLong() -> o.get("d_priority").asText()
      }.toMap
      seen += ((s"probe(${keys.take(3).mkString(",")}...)", found,
        () => keys.distinct.filter(_ < Gen.SfOrders).map(k => k -> dimPriority(k.toInt)).toMap))
    }
  }

  override def checkRound(n: Int): Seq[String] = seen.toSeq.flatMap { case (what, got, model) =>
    val want = model()
    if (got == want) None else Some(s"$what = $got, model $want")
  }

  def checkFinal(): Seq[String] = {
    server.foreach(_.stop())
    val errs = mutable.ArrayBuffer.empty[String]
    val table = pk.toDF.collect()
    if (table.length != model.size) errs += s"final rows ${table.length}, model ${model.size}"
    val wrong = table.count(row => !model.get(row.getLong(0)).exists(_.row.toSeq == row.toSeq))
    if (wrong > 0) errs += s"$wrong final rows differ from the model"
    val l = log.toDF.agg(count(lit(1)), cents("l_extendedprice")).collect()(0)
    val want = (logItems.size.toLong, logItems.map(_.priceCents).sum)
    if ((l.getLong(0), l.getLong(1)) != want) errs += s"log (rows, cents) = $l, model $want"
    errs.toSeq
  }

  def tableDirs: Seq[String] = Seq("orders", "lineitem_log", "orders_dim").map(t => s"$dir/$t")
  def pkTables: Seq[GraftTable] = Seq(pk)
  def planTable: GraftTable = pk
  def roundBytesWritten: Long = written
  def liveUserBytes: Long =
    model.valuesIterator.map(_.bytes).sum + logItems.map(_.bytes).sum + dimBytes
  def nominalRoundS: Double = 1.9
}

object LsmIngest {
  val Buckets = 4
  val InitialItems = 60000
  val AppendRows = 2000
  /** Keys written last that updates favour. */
  val RecentWindow = 20000
  val RangeKeys = 3000L
  /** Hot probe keys: far fewer than the LookupServer's 100k-key cache. */
  val HotKeys = 16L
}
