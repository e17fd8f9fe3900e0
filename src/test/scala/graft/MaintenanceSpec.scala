package graft

import graft.table.GraftTable
import org.apache.spark.sql.execution.{RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

class MaintenanceSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("pk full compaction: result unchanged, files collapse to max level") {
    val orders = sf("orders")
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "2"))
    t.upsert(orders)
    t.upsert(orders.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1))
    t.upsert(orders.filter(col("o_orderkey") % 11 === 0),
      kinds = Some(lit(GraftMeta.KindDelete)))
    val before = t.toDF.orderBy("o_orderkey").collect()
    t.compact()
    val files = t.store.liveFiles(t.store.latestSnapshot.get)
    assert(files.forall(_.level == GraftTable.MaxLevel))
    val after = t.toDF.orderBy("o_orderkey").collect()
    assert(before.sameElements(after))
    // read-optimized now equals the full read
    assert(t.readOptimized.count() == after.length)
  }

  test("per-bucket compaction rewrites only the triggered bucket") {
    val orders = sf("orders")
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map(
        "bucket" -> "4", "num-sorted-run.compaction-trigger" -> "4",
        "write-only" -> "true"))
    t.upsert(orders) // one run in every bucket
    // pile runs onto the single bucket that owns key 1
    val oneKey = orders.filter(col("o_orderkey") === 1)
    (1 to 4).foreach(i => t.upsert(oneKey.withColumn("o_totalprice", lit(i * 1.0))))
    val before = t.store.liveFiles(t.store.latestSnapshot.get)
    val groups = t.pickCompaction()
    assert(groups.size == 1, s"exactly one bucket should trip the trigger, got $groups")
    val expected = t.toDF.orderBy("o_orderkey").collect()
    t.compactBuckets(groups.toSet)
    val after = t.store.liveFiles(t.store.latestSnapshot.get)
    val untouchedBefore = before.filterNot(f => groups.contains((f.partition, f.bucket)))
    val untouchedAfter = after.filterNot(f => groups.contains((f.partition, f.bucket)))
    assert(untouchedBefore.map(_.path).sorted == untouchedAfter.map(_.path).sorted,
      "non-triggered buckets' files must be untouched")
    val rewritten = after.filter(f => groups.contains((f.partition, f.bucket)))
    assert(rewritten.forall(_.level == GraftTable.MaxLevel))
    assert(t.toDF.orderBy("o_orderkey").collect().sameElements(expected))
    // the fixed point: no bucket trips the trigger after compaction
    assert(t.pickCompaction().isEmpty)
  }

  // post-commit compaction swallows its failures into a WARN (the write is
  // already durable), so a reader that fails only inside compaction tasks
  // would show up as runs piling past the trigger: assert the outcome
  for (fmt <- Seq("parquet", "orc", "avro"))
  test(s"[$fmt] upserts past the trigger commit a compaction and bound the runs") {
    import spark.implicits._
    val trigger = 3
    val t = GraftTable.create(spark, tmpTable(), Seq((1L, "a")).toDF("k", "v").schema,
      primaryKeys = Seq("k"), options = Map("bucket" -> "2", "file.format" -> fmt,
        "num-sorted-run.compaction-trigger" -> trigger.toString))
    (1 to 7).foreach(i => t.upsert((1L to 40L).map(k => (k, s"v$i-$k")).toDF("k", "v")))
    val snap = t.store.latestSnapshot.get
    assert(t.store.snapshotIds.map(t.store.readSnapshot)
      .exists(_.commitKind == graft.core.CommitKind.COMPACT), s"$fmt: no COMPACT snapshot")
    val runs = t.store.liveFiles(snap).groupBy(_.bucket).values.map(_.size)
    assert(runs.forall(_ <= trigger), s"$fmt: runs per bucket $runs")
    assert(t.toDF.as[(Long, String)].collect().toSet == (1L to 40L).map(k => (k, s"v7-$k")).toSet)
  }

  test("writes auto-compact past the trigger; write-only suppresses it") {
    val orders = sf("orders").limit(200).cache()
    def runs(t: GraftTable) = t.store.liveFiles(t.store.latestSnapshot.get)
      .groupBy(f => (f.partition, f.bucket)).values.map(_.size).max
    // default (write-only=false): the 5-run trigger fires during ingest
    val auto = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map(
        "bucket" -> "1", "num-sorted-run.compaction-trigger" -> "3"))
    (1 to 5).foreach(i => auto.upsert(orders.withColumn("o_totalprice", lit(i * 1.0))))
    assert(auto.store.snapshotIds.map(auto.store.readSnapshot)
      .exists(_.commitKind == graft.core.CommitKind.COMPACT),
      "auto-compaction should have committed during ingest")
    assert(runs(auto) < 5)
    assert(auto.toDF.count() == 200)
    // write-only: identical ingest, zero COMPACT commits
    val manual = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map(
        "bucket" -> "1", "num-sorted-run.compaction-trigger" -> "3",
        "write-only" -> "true"))
    (1 to 5).foreach(i => manual.upsert(orders.withColumn("o_totalprice", lit(i * 1.0))))
    assert(manual.store.snapshotIds.map(manual.store.readSnapshot)
      .forall(_.commitKind != graft.core.CommitKind.COMPACT))
    assert(runs(manual) == 5)
    // full-compaction.delta-commits: forced FULL compaction cadence
    val cadence = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map(
        "bucket" -> "1", "full-compaction.delta-commits" -> "2"))
    (1 to 4).foreach(i => cadence.upsert(orders.withColumn("o_totalprice", lit(i * 1.0))))
    val kinds = cadence.store.snapshotIds.map(cadence.store.readSnapshot(_).commitKind)
    assert(kinds.count(_ == graft.core.CommitKind.COMPACT) == 2, kinds.toString)
    assert(cadence.toDF.count() == 200)
  }

  test("snapshot.num-retained.max expires old snapshots during ingest") {
    val orders = sf("orders").limit(100).cache()
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map(
        "bucket" -> "1", "snapshot.num-retained.max" -> "3"))
    (1 to 6).foreach(i => t.upsert(orders.withColumn("o_totalprice", lit(i * 1.0))))
    assert(t.store.snapshotIds.size <= 3, t.store.snapshotIds.toString)
    assert(t.store.snapshotIds.last >= 6) // auto-compaction may append COMPACTs
    assert(t.toDF.count() == 100)
    // without the option the chain keeps everything
    val keep = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map(
        "bucket" -> "1", "write-only" -> "true"))
    (1 to 6).foreach(i => keep.upsert(orders.withColumn("o_totalprice", lit(i * 1.0))))
    assert(keep.store.snapshotIds.size == 6)
  }

  test("time-based expire and rollback-to-tag") {
    val orders = sf("orders").limit(100).cache()
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map(
        "bucket" -> "1", "write-only" -> "true"))
    (1 to 4).foreach(i => t.upsert(orders.withColumn("o_totalprice", lit(i * 1.0))))
    t.store.createTag("keep", 2)
    // everything is newer than 1 day -> nothing expires
    assert(t.expireSnapshotsOlderThan(24L * 3600 * 1000).isEmpty)
    // everything is older than 0ms except the retained minimum
    val expired = t.expireSnapshotsOlderThan(0L, retainMin = 2)
    assert(expired == Seq(1L, 2L), expired.toString)
    assert(t.toDF.count() == 100)
    // the tag still serves its snapshot's content after expiry
    assert(t.toDFAtTag("keep").count() == 100)
    // rollback to the tag restores snapshot-2 content (prices were i=2.0)
    t.rollbackToTag("keep")
    assert(t.toDF.agg(max("o_totalprice")).head().getDouble(0) == 2.0)
    assert(t.toDF.count() == 100)
  }

  test("snapshot.time-retained expires by age during ingest, keeping the minimum") {
    val orders = sf("orders").limit(100).cache()
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map(
        "bucket" -> "1",
        "snapshot.time-retained" -> "0ms", "snapshot.num-retained.min" -> "2"))
    (1 to 5).foreach(i => t.upsert(orders.withColumn("o_totalprice", lit(i * 1.0))))
    // everything older than 0ms expires except the 2 newest
    assert(t.store.snapshotIds.size <= 2, t.store.snapshotIds.toString)
    assert(t.toDF.count() == 100)
  }

  test("rescale rewrites a pk table under a new bucket count") {
    val orders = sf("orders").limit(500).cache()
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map(
        "bucket" -> "2", "write-only" -> "true"))
    t.upsert(orders)
    t.upsert(orders.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2))
    val before = t.toDF.orderBy("o_orderkey").collect()
    // SET of bucket on a populated table is refused, pointing at rescale
    intercept[UnsupportedOperationException] { t.setOption("bucket", "8") }
    t.rescaleBucket(8)
    assert(t.schema.numBuckets == 8)
    val buckets = t.store.liveFiles(t.store.latestSnapshot.get).map(_.bucket).distinct
    assert(buckets.size > 2, s"expected >2 buckets, got $buckets")
    assert(t.toDF.orderBy("o_orderkey").collect().sameElements(before))
    // point lookup still routes to the right (new) bucket
    val k = before.head.getLong(0)
    assert(t.lookup(Map("o_orderkey" -> k)).isDefined)
  }

  test("rescale fuzz: random upserts/deletes across rescales match a model") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val sch = StructType(Seq(StructField("k", LongType, nullable = false),
      StructField("v", LongType)))
    val t = GraftTable.create(spark, tmpTable(), sch, primaryKeys = Seq("k"),
      options = Map("bucket" -> "2", "write-only" -> "true"))
    val model = scala.collection.mutable.Map.empty[Long, Long]
    for (step <- 0 until 6) {
      val rows = (0 until 60).map(_ => (rnd.nextInt(300).toLong, rnd.nextLong(1000)))
      t.upsert(rows.toDF("k", "v"))
      rows.foreach { case (k, v) => model(k) = v } // later wins, like the engine
      if (rnd.nextBoolean()) {
        val bound = rnd.nextInt(300).toLong
        t.delete(col("k") < bound)
        model.keys.filter(_ < bound).toSeq.foreach(model.remove)
      }
      if (step % 2 == 1) t.rescaleBucket(1 + rnd.nextInt(8))
      // engine state must equal the model after every step
      val got = t.toDF.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == model.toMap,
        s"step $step diverged (buckets=${t.schema.numBuckets}): " +
          s"missing=${(model.keySet -- got.keySet).take(5)} " +
          s"extra=${(got.keySet -- model.keySet).take(5)}")
      // point lookups route correctly across the layout change
      (0 until 10).map(_ => rnd.nextInt(300).toLong).foreach { k =>
        assert(t.lookup(Map("k" -> k)).map(_.getLong(1)) == model.get(k),
          s"step $step lookup($k) wrong under bucket=${t.schema.numBuckets}")
      }
    }
  }

  test("mid-rescale reads stay correct: pruning hashes with each file's own layout") {
    val orders = sf("orders").limit(500).cache()
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map(
        "bucket" -> "2", "write-only" -> "true"))
    t.upsert(orders)
    // simulate the window inside rescaleBucket (or a crash between its two
    // commits): the bucket option is flipped but the data rewrite has not
    // happened — every pk-equality read must still find its row, because
    // bucket pruning uses the bucket count of the schema each FILE carries
    t.store.commitSchema(t.schema.copy(id = t.schema.id + 1,
      options = t.schema.options + ("bucket" -> "16")))
    assert(t.schema.numBuckets == 16)
    val keys = orders.select("o_orderkey").collect().map(_.getLong(0)).take(50)
    keys.foreach { k =>
      assert(t.lookup(Map("o_orderkey" -> k)).isDefined, s"lost key $k mid-rescale")
    }
    // IN-list pruning path too (DSv2 scan)
    assert(t.toDF.filter(col("o_orderkey").isin(keys.take(10).map(Long.box): _*))
      .count() == 10)
    assert(t.toDF.count() == 500)
  }

  test("append small-file compaction reduces file count, keeps data") {
    val li = sf("lineitem")
    // tiny test files never sum to a target-size file, so trip the
    // compaction.max.file-num count gate instead
    val t = GraftTable.create(spark, tmpTable(), li.schema,
      options = Map("write-only" -> "true", "compaction.max.file-num" -> "6"))
    (1 to 6).foreach(i => t.append(li.filter(col("l_orderkey") % 6 === i - 1)))
    val before = t.store.liveFiles(t.store.latestSnapshot.get).size
    assert(t.maybeCompact().isDefined)
    val after = t.store.liveFiles(t.store.latestSnapshot.get).size
    assert(after < before)
    assert(t.toDF.count() == li.count())
  }

  test("zorder sort compaction keeps data and improves locality stats") {
    val li = sf("lineitem")
    val t = GraftTable.create(spark, tmpTable(), li.schema)
    t.append(li.repartition(8)) // scattered
    t.sortCompact(Seq("l_orderkey", "l_partkey"), "zorder")
    assert(t.toDF.count() == li.count())
    val files = t.store.liveFiles(t.store.latestSnapshot.get)
    assert(files.forall(_.level == GraftTable.MaxLevel))
    // after clustering, orderkey ranges should be narrow per file: ensure a
    // point-ish range prunes at least one file when there are several
    if (files.size > 1) {
      val spans = files.flatMap { f =>
        for {
          cs <- f.stats.get("l_orderkey"); mn <- cs.min; mx <- cs.max
        } yield (mn.toLong, mx.toLong)
      }
      val total = spans.map(_._2).max - spans.map(_._1).min
      assert(spans.exists { case (mn, mx) => (mx - mn) < total }, "files should not all span the full range")
    }
  }

  test("hilbert curve: bijective on the grid, consecutive cells adjacent; clustering keeps data") {
    import graft.functions.Hilbert
    // pure curve: 2 dims x 4 bits — a true Hilbert curve visits all 256
    // cells exactly once and consecutive indices are grid neighbors
    val cells = for (x <- 0 until 16; y <- 0 until 16)
      yield (Hilbert.index(Array(x.toLong, y.toLong), 4), (x, y))
    assert(cells.map(_._1).distinct.size == 256, "must be a bijection")
    val walk = cells.sortBy(_._1).map(_._2)
    assert(walk.sliding(2).forall { case Seq((x1, y1), (x2, y2)) =>
      (x1 - x2).abs + (y1 - y2).abs == 1
    }, "consecutive hilbert cells must be grid-adjacent")

    val li = sf("lineitem")
    val t = GraftTable.create(spark, tmpTable(), li.schema)
    t.append(li.repartition(8))
    t.sortCompact(Seq("l_orderkey", "l_partkey"), "hilbert")
    assert(t.toDF.count() == li.count())
    assert(t.store.liveFiles(t.store.latestSnapshot.get).forall(_.level == GraftTable.MaxLevel))
  }

  test("migrate_table adopts a parquet dir in place: content, stats, pruning") {
    import spark.implicits._
    val srcDir = tmpTable() + "-src"
    val df = (1 to 100).map(i => (i.toLong, i * 1.5, s"r$i", if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "score", "name", "parity")
    df.write.partitionBy("parity").parquet(srcDir)

    val t = graft.table.Migrate.parquetTable(spark, srcDir, tmpTable())
    assert(t.schema.partitionKeys == Seq("parity"))
    // content identical, partition column reconstructed
    val got = t.toDF.orderBy("id").collect().map(r => (r.getLong(0), r.getString(3))).toSeq
    assert(got == (1 to 100).map(i => (i.toLong, if (i % 2 == 0) "even" else "odd")))
    // files are served IN PLACE — nothing copied under the table root
    val files = t.store.liveFiles(t.store.latestSnapshot.get)
    assert(files.forall(_.path.startsWith("/")), files.map(_.path).toString)
    assert(files.forall(_.path.contains("-src")), "must reference source files")
    // per-file numeric stats landed → range pruning works
    assert(files.forall(_.stats.get("id").exists(_.min.isDefined)))
    // partition pruning on the discovered key
    val even = t.toDF.filter(col("parity") === "even")
    val plan = even.queryExecution.executedPlan.toString
    assert(plan.contains("GraftScan") && plan.contains("parity"), plan.take(500))
    val (skipped, read) = scanFileCounts(even)
    assert(skipped >= 1 && read >= 1, s"skipped=$skipped read=$read")
    assert(even.count() == 50)
    // the rows read through the catalog: migrated files keep their
    // absolute source paths, which the scan resolves as they are
    val wh = java.nio.file.Files.createTempDirectory("graft-migrate-wh").toString
    spark.conf.set("spark.sql.catalog.gmig", classOf[graft.spark.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmig.warehouse", wh)
    val viaCatalog = graft.table.Migrate.parquetTable(spark, srcDir, s"$wh/db/mig")
    assert(viaCatalog.store.liveFiles(viaCatalog.store.latestSnapshot.get)
      .forall(_.path.startsWith("/")))
    val rows = spark.sql("SELECT id, score, name, parity FROM gmig.db.mig WHERE id <= 10")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getString(3)))
      .sortBy(_._1).toSeq
    assert(rows == (1 to 10).map(i =>
      (i.toLong, i * 1.5, s"r$i", if (i % 2 == 0) "even" else "odd")))
    val paths = spark.sql("SELECT DISTINCT __file_path FROM gmig.db.mig")
      .collect().map(_.getString(0)).toSet
    assert(paths.nonEmpty && paths.forall(_.contains("-src")), paths.toString)
    // a small-file compaction re-homes data under the table root
    t.compactSmallFiles()
    val after = t.store.liveFiles(t.store.latestSnapshot.get)
    assert(after.forall(f => !f.path.startsWith("/")), after.map(_.path).toString)
    assert(t.toDF.count() == 100)
  }

  test("tag auto-creation: watermark periods pin tags, retention drops oldest") {
    import spark.implicits._
    val df = Seq((1L, 1000L * 3600 * 24 * 400, "a")).toDF("k", "ts", "v")
    val t = GraftTable.create(spark, tmpTable(), df.schema, primaryKeys = Seq("k"),
      options = Map(
        "watermark.column" -> "ts",
        "tag.automatic-creation" -> "watermark",
        "tag.creation-period" -> "hourly",
        "tag.num-retained-max" -> "2"))
    val h = 3600L * 1000
    def at(hour: Long, k: Long) = Seq((k, hour * h, s"v$k")).toDF("k", "ts", "v")
    t.upsert(at(100, 1)) // hour-100 tag
    t.upsert(at(100, 2)) // same period — no new tag
    assert(t.store.listTags.size == 1)
    t.upsert(at(101, 3)) // hour-101 tag
    assert(t.store.listTags.size == 2)
    t.upsert(at(102, 4)) // hour-102 tag → hour-100 pruned by retention
    val tags = t.store.listTags.map(_._1).sorted
    assert(tags == Seq("1970-01-05 05", "1970-01-05 06"), tags.toString)
    // the pinned snapshot of each period is the FIRST commit of that period
    assert(t.store.listTags.map(_._2.id).sorted == Seq(3L, 4L))
  }

  test("tag TTL: default-time-retained expires auto tags, manual tags persist") {
    import spark.implicits._
    val h = 3600L * 1000
    def at(hour: Long, k: Long) = Seq((k, hour * h, s"v$k")).toDF("k", "ts", "v")
    val t = GraftTable.create(spark, tmpTable(), at(0, 0).schema,
      primaryKeys = Seq("k"),
      options = Map(
        "watermark.column" -> "ts",
        "tag.automatic-creation" -> "watermark",
        "tag.creation-period" -> "hourly",
        "tag.default-time-retained" -> "1h"))
    t.upsert(at(100, 1))
    t.store.createTag("keep-me", t.store.latestSnapshotId.get) // no TTL
    assert(t.store.listTags.size == 2)
    // within the TTL nothing expires
    assert(t.expireTags() == Nil)
    // past the TTL the auto tag goes, the manual tag stays
    val expired = t.expireTags(nowMs = System.currentTimeMillis() + 2 * h)
    assert(expired == Seq("1970-01-05 04"), expired.toString)
    assert(t.store.listTags.map(_._1) == Seq("keep-me"))
    // a manual tag WITH a TTL expires too
    t.store.createTag("short-lived", t.store.latestSnapshotId.get, Some(h))
    assert(t.expireTags(nowMs = System.currentTimeMillis() + 2 * h)
      == Seq("short-lived"))
  }

  test("tag.creation-delay defers the period pin past late data") {
    import spark.implicits._
    val h = 3600L * 1000
    def at(ms: Long, k: Long) = Seq((k, ms, s"v$k")).toDF("k", "ts", "v")
    val t = GraftTable.create(spark, tmpTable(), at(0, 0).schema,
      primaryKeys = Seq("k"),
      options = Map(
        "watermark.column" -> "ts",
        "tag.automatic-creation" -> "watermark",
        "tag.creation-period" -> "hourly",
        "tag.creation-delay" -> "10m"))
    val start = 100 * h
    t.upsert(at(start + 5 * 60 * 1000, 1)) // inside the delay window: no tag
    assert(t.store.listTags.isEmpty)
    t.upsert(at(start + 15 * 60 * 1000, 2)) // past start+delay: pin
    assert(t.store.listTags.map(_._1) == Seq("1970-01-05 04"))
    assert(t.store.listTags.head._2.id == 2L)
  }

  test("interval sections: key-disjoint runs plan independent merge splits") {
    val orders = sf("orders")
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "1"))
    t.upsert(orders.filter(col("o_orderkey") <= 500))
    t.upsert(orders.filter(col("o_orderkey") > 500 && col("o_orderkey") <= 1000))
    t.upsert(orders.filter(col("o_orderkey") > 1000))
    val scan = new graft.spark.v2.GraftScan(spark, t, None, t.schema.structType, Nil, None)
    val parts = scan.planInputPartitions()
    assert(parts.length == 3,
      s"3 key-disjoint runs in one bucket must plan 3 sections, got ${parts.length}")
    // an overlapping run joins the section(s) it overlaps
    t.upsert(orders.filter(col("o_orderkey") <= 500)
      .withColumn("o_totalprice", col("o_totalprice") + 1))
    val scan2 = new graft.spark.v2.GraftScan(spark, t, None, t.schema.structType, Nil, None)
    assert(scan2.planInputPartitions().length == 3)
    // correctness across sections
    val expected = orders.withColumn("o_totalprice",
      when(col("o_orderkey") <= 500, col("o_totalprice") + 1).otherwise(col("o_totalprice")))
    assert(t.toDF.orderBy("o_orderkey").collect()
      .sameElements(expected.orderBy("o_orderkey").collect()))
  }

  test("run-subset compaction leaves the max-level base untouched") {
    val orders = sf("orders")
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"),
      options = Map("bucket" -> "2", "num-sorted-run.compaction-trigger" -> "3",
        "write-only" -> "true"))
    t.upsert(orders)
    t.compact() // base at max level
    val basePaths = t.store.liveFiles(t.store.latestSnapshot.get)
      .filter(_.level == GraftTable.MaxLevel).map(_.path).toSet
    assert(basePaths.nonEmpty)
    // hot updates + a delete of keys that live in the base
    t.upsert(orders.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2))
    t.upsert(orders.filter(col("o_orderkey") % 13 === 0),
      kinds = Some(lit(GraftMeta.KindDelete)))
    val expected = t.toDF.orderBy("o_orderkey").collect()
    val snap = t.maybeCompact()
    assert(snap.isDefined, "trigger=3 with 2 L0 runs + base must compact")
    val after = t.store.liveFiles(t.store.latestSnapshot.get)
    // base untouched, upper runs collapsed into one level-1 partial run
    assert(after.filter(_.level == GraftTable.MaxLevel).map(_.path).toSet == basePaths,
      "partial compaction must not rewrite the max-level base")
    assert(after.count(_.level == 0) == 0, "all L0 runs rewritten")
    assert(after.count(_.level == 1) >= 1, "partial run written at level 1")
    // read invariance: the -D survivors in the partial run still cancel base rows
    assert(t.toDF.orderBy("o_orderkey").collect().sameElements(expected))
    assert(t.toDF.filter(col("o_orderkey") % 13 === 0).count() == 0)
  }

  test("run-subset compaction on an aggregation-engine table re-folds exactly") {
    val t = Fixtures.eventsAggPartialCompact(spark, "/root/testdata/sf0.001")
    val files = t.store.liveFiles(t.store.latestSnapshot.get)
    // the subset path ran: base survives at max level, one level-1 run
    assert(files.count(_.level == GraftTable.MaxLevel) >= 1)
    assert(files.count(_.level == 1) >= 1,
      s"expected a level-1 partial run, got levels ${files.map(_.level).distinct}")
    assert(files.count(_.level == 0) == 0, "hot runs rewritten")
    // the merged read equals the one-shot aggregation of the same input
    val oneShot = {
      val df = Fixtures.eventsAggInput(spark, "/root/testdata/sf0.001")
      val t2 = GraftTable.create(spark, tmpTable(), df.schema,
        primaryKeys = Seq("user_id"), options = Fixtures.eventsAggOptions)
      t2.upsert(df)
      t2.toDF
    }
    val key = Seq("user_id")
    val a = t.toDF.orderBy(key.map(col): _*).collect()
    val b = oneShot.orderBy(key.map(col): _*).collect()
    assert(a.sameElements(b), "partial-compacted agg table diverged from one-shot fold")
    // interleaving sequence ranges must NOT take the subset path: a listagg
    // fold would concatenate out of order (stats cannot prove disjointness)
    val df = Fixtures.eventsAggInput(spark, "/root/testdata/sf0.001")
    val t3 = GraftTable.create(spark, tmpTable(), df.schema,
      primaryKeys = Seq("user_id"),
      options = Fixtures.eventsAggOptions + ("num-sorted-run.compaction-trigger" -> "3"))
    t3.upsert(df.filter(col("event_id") % 10 < 8))
    t3.compact()
    t3.upsert(df.filter(col("event_id") % 10 === 8))
    t3.upsert(df.filter(col("event_id") % 10 === 9))
    val before = t3.toDF.orderBy(key.map(col): _*).collect()
    t3.maybeCompact()
    val files3 = t3.store.liveFiles(t3.store.latestSnapshot.get)
    assert(files3.count(_.level == 1) == 0,
      "interleaved sequence ranges must fall back to the terminal rewrite")
    // compaction must not change what a read sees (one-shot equality is
    // unattainable here: an intermediate fold cannot re-interleave listagg)
    val c = t3.toDF.orderBy(key.map(col): _*).collect()
    assert(c.sameElements(before), "terminal fallback changed read results")
  }

  test("partition expiration drops aged partitions, keeps recent ones") {
    import spark.implicits._
    val today = java.time.LocalDate.now().toString
    val df = Seq((1L, "2000-01-01", "old"), (2L, "2000-06-01", "old2"),
      (3L, today, "fresh")).toDF("k", "dt", "v")
    val t = GraftTable.create(spark, tmpTable(), df.schema,
      partitionKeys = Seq("dt"),
      options = Map("partition.expiration-time" -> "30d"))
    t.append(df)
    val snap = t.expirePartitions()
    assert(snap.isDefined)
    val vals = t.toDF.select("v").collect().map(_.getString(0)).toSeq
    assert(vals == Seq("fresh"), s"got $vals")
    // the drop is metadata-only: time travel still sees the old partitions
    assert(t.toDF(1).count() == 3)
    // a second run is a no-op; snapshot expiry then reclaims data files but
    // keeps the retained partition intact
    assert(t.expirePartitions().isEmpty)
    t.expireSnapshots(retainLast = 1)
    assert(t.toDF.select("v").collect().map(_.getString(0)).toSeq == Seq("fresh"))
  }

  test("record-level expire drops aged rows on compaction only") {
    import spark.implicits._
    val nowSec = (System.currentTimeMillis() / 1000).toInt
    val df = Seq((1L, "old", 100), (2L, "fresh", nowSec), (3L, "aging", nowSec))
      .toDF("k", "v", "rt")
    val t = GraftTable.create(spark, tmpTable(), df.schema,
      primaryKeys = Seq("k"), options = Map(
        "record-level.expire-time" -> "30d", "record-level.time-field" -> "rt",
        "write-only" -> "true"))
    t.upsert(df)
    // an expired NEWER version resurrects the older live one (pre-merge
    // filtering, as in the reference's per-file reader wrap)
    t.upsert(Seq((3L, "aging-v2", 100)).toDF("k", "v", "rt"))
    // best-effort: plain reads still see every row before compaction
    assert(t.toDF.count() == 3)
    assert(t.toDF.filter(col("k") === 3).select("v").head().getString(0) == "aging-v2")
    t.compact()
    val rows = t.toDF.orderBy("k").select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((2L, "fresh"), (3L, "aging")), rows.toString)
    // null time value is an error, as in the reference (schema must DECLARE
    // rt nullable — on a non-nullable column the optimizer rightly folds
    // the null check away)
    val nullableSchema = org.apache.spark.sql.types.StructType(
      df.schema.map(f => f.copy(nullable = true)))
    val bad = GraftTable.create(spark, tmpTable(),
      nullableSchema, primaryKeys = Seq("k"), options = Map(
        "record-level.expire-time" -> "30d", "record-level.time-field" -> "rt",
        "write-only" -> "true"))
    bad.upsert(Seq((1L, "x", null.asInstanceOf[Integer])).toDF("k", "v", "rt"))
    intercept[Exception](bad.compact())
    // create-time validation: time field must exist and be INT
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, tmpTable(), df.schema, primaryKeys = Seq("k"),
        options = Map("record-level.expire-time" -> "30d"))
    }
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, tmpTable(), df.schema, primaryKeys = Seq("k"),
        options = Map("record-level.expire-time" -> "30d",
          "record-level.time-field" -> "v"))
    }
  }

  test("append compaction trigger honors compaction.min/max.file-num") {
    import spark.implicits._
    // one dataframe partition -> exactly one data file per append
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
    // tiny files never sum to a target-size file, so the min-file-num/size
    // gate stays closed — only the max-file-num count gate can trip
    val t = GraftTable.create(spark, tmpTable(), df.schema,
      options = Map("compaction.max.file-num" -> "3"))
    t.append(df); t.append(df)
    assert(t.store.snapshotIds.map(t.store.readSnapshot)
      .forall(_.commitKind != graft.core.CommitKind.COMPACT))
    t.append(df) // third small file trips the count gate during ingest
    assert(t.store.snapshotIds.map(t.store.readSnapshot)
      .exists(_.commitKind == graft.core.CommitKind.COMPACT))
    assert(t.store.liveFiles(t.store.latestSnapshot.get).size < 3)
    assert(t.toDF.count() == 6)
    // defaults (min 5 / max 50): six tiny appends never trigger — not
    // cost-effective until a target-size file's worth accumulates
    val t2 = GraftTable.create(spark, tmpTable(), df.schema)
    (1 to 6).foreach(_ => t2.append(df))
    assert(t2.store.snapshotIds.map(t2.store.readSnapshot)
      .forall(_.commitKind != graft.core.CommitKind.COMPACT))
  }

  test("snapshot.expire.limit bounds per-call expiration") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("k", "v")
    val t = GraftTable.create(spark, tmpTable(), df.schema,
      primaryKeys = Seq("k"), options = Map("bucket" -> "1",
        "write-only" -> "true", "snapshot.expire.limit" -> "2"))
    (1 to 6).foreach(i => t.upsert(df.withColumn("v", lit(i.toString))))
    assert(t.expireSnapshots(retainLast = 1) == Seq(1L, 2L))
    assert(t.expireSnapshots(retainLast = 1) == Seq(3L, 4L))
    assert(t.expireSnapshots(retainLast = 1) == Seq(5L))
    assert(t.store.snapshotIds == Seq(6L))
    assert(t.toDF.count() == 1)
  }

  test("decoupled changelog retention outlives snapshot expiration") {
    import spark.implicits._
    // lookup producer: explicit changelog files, exclusively owned
    val t = GraftTable.create(spark, tmpTable(),
      Seq((1L, "x")).toDF("k", "v").schema, primaryKeys = Seq("k"),
      options = Map("bucket" -> "1", "changelog-producer" -> "lookup",
        "changelog.num-retained.max" -> "50"))
    t.upsert(Seq((1L, "a"), (2L, "b")).toDF("k", "v")) // snap 1
    t.upsert(Seq((1L, "a2")).toDF("k", "v"))           // snap 2
    t.upsert(Seq((3L, "c")).toDF("k", "v"))            // snap 3
    t.upsert(Seq((2L, "b2")).toDF("k", "v"))           // snap 4
    def replay() = t.incremental(0, 4)
      .select("_row_kind", "k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val before = replay()
    t.expireSnapshots(retainLast = 1)
    assert(t.store.snapshotIds == Seq(4L))
    assert(t.store.changelogIds == Seq(1L, 2L, 3L), t.store.changelogIds)
    // the full changelog replay is identical after snapshot expiration
    assert(replay() == before)
    // orphan cleanup does not reclaim preserved changelog files
    t.removeOrphanFiles(olderThanMs = 0)
    assert(replay() == before)
    // tighten retention: only the 2 newest changelogs survive
    t.setOption("changelog.num-retained.max", "2")
    t.expireChangelogs()
    assert(t.store.changelogIds == Seq(2L, 3L), t.store.changelogIds)
    val after = replay()
    assert(after.toSet.subsetOf(before.toSet) && after.size < before.size)

    // input producer: payload is the L0 data files, which may still be
    // LIVE in retained snapshots — changelog expiry must not delete those
    val t2 = GraftTable.create(spark, tmpTable(),
      Seq((1L, "x")).toDF("k", "v").schema, primaryKeys = Seq("k"),
      options = Map("bucket" -> "1", "write-only" -> "true",
        "changelog.num-retained.max" -> "50"))
    t2.upsert(Seq((1L, "a")).toDF("k", "v"))
    t2.upsert(Seq((2L, "b")).toDF("k", "v"))
    t2.upsert(Seq((3L, "c")).toDF("k", "v"))
    val full = t2.toDF.orderBy("k").collect().toSeq
    val beforeT2 = t2.incremental(0, 3).count()
    t2.expireSnapshots(retainLast = 1)
    assert(t2.incremental(0, 3).count() == beforeT2)
    t2.setOption("changelog.num-retained.max", "1")
    t2.expireChangelogs()
    // the uncompacted L0 files stay readable through the live snapshot
    assert(t2.toDF.orderBy("k").collect().toSeq == full)
  }

  test("multi-round expiry keeps earlier rounds' preserved changelog payloads") {
    import spark.implicits._
    // input producer + snapshot.expire.limit=1 forces one-snapshot-per-call
    // expiry. Round 1 preserves changelog/1 (payload = snap 1's L0 file);
    // snap 2's BASE manifests still list that file, so the round that
    // expires snap 2 must not delete it — changelog replay would break
    // well within changelog retention otherwise.
    val t = GraftTable.create(spark, tmpTable(),
      Seq((1L, "x")).toDF("k", "v").schema, primaryKeys = Seq("k"),
      options = Map("bucket" -> "1", "write-only" -> "true",
        "snapshot.expire.limit" -> "1",
        "changelog.num-retained.max" -> "50"))
    t.upsert(Seq((1L, "a")).toDF("k", "v")) // snap 1, L0 f1
    t.upsert(Seq((2L, "b")).toDF("k", "v")) // snap 2, L0 f2
    t.upsert(Seq((3L, "c")).toDF("k", "v")) // snap 3, L0 f3
    t.compact()                             // snap 4: fold drops f1..f3
    t.upsert(Seq((4L, "d")).toDF("k", "v")) // snap 5
    val before = t.incremental(0, 3)
      .select("_row_kind", "k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(before.nonEmpty)
    t.expireSnapshots(retainLast = 1) // expires snap 1 -> changelog/1 {f1}
    assert(t.store.changelogIds == Seq(1L))
    t.expireSnapshots(retainLast = 1) // expires snap 2 — must NOT delete f1
    t.expireSnapshots(retainLast = 1) // expires snap 3
    t.expireSnapshots(retainLast = 1) // expires snap 4 (compact, no payload)
    assert(t.store.snapshotIds == Seq(5L))
    assert(t.store.changelogIds == Seq(1L, 2L, 3L), t.store.changelogIds)
    // full replay across all preserved changelogs is byte-identical
    val after = t.incremental(0, 3)
      .select("_row_kind", "k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(after == before, s"replay changed: $after vs $before")
    // reclamation still works through the dedicated path
    t.setOption("changelog.num-retained.max", "1")
    t.expireChangelogs()
    assert(t.store.changelogIds == Seq(3L))
  }

  test("expire honors lagging consumers: pinned snapshots survive") {
    val orders = sf("orders").limit(300)
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "2"))
    t.upsert(orders)                                               // snap 1
    t.upsert(orders.withColumn("o_totalprice", lit(1.0)))          // snap 2
    t.upsert(orders.withColumn("o_totalprice", lit(2.0)))          // snap 3
    // a streaming reader whose next unread snapshot is 2
    t.store.writeConsumer("lagging", 2L)
    val expired = t.expireSnapshots(retainLast = 1)
    // only snapshot 1 may go; 2 and 3 are pinned by the consumer
    assert(expired == Seq(1L), s"expected [1], got $expired")
    assert(t.store.snapshotIds == Seq(2L, 3L))
    // the pinned snapshot is still fully readable
    assert(t.toDF(2L).count() == orders.count())
    // consumer gone -> the rest expires
    t.store.deleteConsumer("lagging")
    assert(t.expireSnapshots(retainLast = 1) == Seq(2L))
  }

  test("expire snapshots deletes unreferenced files but keeps tagged ones") {
    val orders = sf("orders").limit(300)
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "2"))
    t.upsert(orders)
    t.store.createTag("keep", 1)
    t.upsert(orders.withColumn("o_totalprice", col("o_totalprice") * 2))
    t.compact()
    val expired = t.expireSnapshots(retainLast = 1)
    assert(expired.nonEmpty)
    assert(t.store.snapshotIds.size == 1)
    // current read fine
    assert(t.toDF.count() == orders.count())
    // tagged snapshot still readable (its files protected by the tag)
    assert(t.toDFAtTag("keep").count() == orders.count())
  }

  test("rollback restores an earlier state") {
    val orders = sf("orders").limit(100)
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "2"))
    t.upsert(orders)
    val s1 = t.store.latestSnapshotId.get
    t.upsert(orders.withColumn("o_totalprice", lit(0.0)))
    t.rollbackTo(s1)
    assert(t.toDF.filter(col("o_totalprice") === 0.0).count() == 0)
  }

  test("schema evolution: add, rename, widen; old files remap by field id") {
    val orders = sf("orders").limit(100)
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "2"))
    t.upsert(orders)
    t.addColumn("note", org.apache.spark.sql.types.StringType)
    t.renameColumn("o_orderpriority", "priority")
    val df2 = t.toDF
    assert(df2.columns.contains("note") && df2.columns.contains("priority"))
    assert(df2.filter(col("note").isNotNull).count() == 0)
    assert(df2.filter(col("priority").isNotNull).count() == 100)
    // write under the new schema, both schema versions coexist
    val newRows = orders.limit(10)
      .withColumn("note", lit("hello"))
      .withColumnRenamed("o_orderpriority", "priority")
      .withColumn("o_orderkey", col("o_orderkey") + 1000000)
    t.upsert(newRows)
    assert(t.toDF.count() == 110)
    assert(t.toDF.filter(col("note") === "hello").count() == 10)
  }

  test("system tables") {
    val orders = sf("orders").limit(100)
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "2"))
    t.upsert(orders)
    t.upsert(orders)
    assert(t.system("snapshots").count() == 2)
    assert(t.system("files").count() > 0)
    assert(t.system("partitions").count() == 1)
    assert(t.system("buckets").count() <= 2)
    assert(t.system("options").filter(col("key") === "bucket").count() == 1)
    assert(t.system("audit_log").columns.contains("_row_kind"))
    t.store.createTag("v1", 1)
    assert(t.system("tags").count() == 1)
    assert(t.system("schemas").count() == 1)
    // $statistics is empty before ANALYZE, populated after
    assert(t.system("statistics").count() == 0)
    t.analyzeColumns(Seq("o_orderkey", "o_orderstatus"))
    val stats = t.system("statistics").collect()
      .map(r => r.getAs[String]("column") -> r.getAs[Long]("ndv")).toMap
    assert(stats.keySet == Set("o_orderkey", "o_orderstatus"))
    assert(stats("o_orderstatus") <= 5 && stats("o_orderstatus") >= 1)
    // $aggregation_fields reflects per-field functions
    val aggT = Fixtures.eventsAgg(spark, "/root/testdata/sf0.001")
    val funcs = aggT.system("aggregation_fields").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(funcs("user_id") == "primary-key" && funcs("total_cents") == "sum" &&
      funcs("types") == "listagg")
    // $files must agree with the driver-side live fold...
    val live = t.store.liveFiles(t.store.latestSnapshot.get)
    val viaDf = t.system("files").collect()
      .map(r => (r.getAs[String]("file_path"), r.getAs[Long]("row_count"))).toSet
    assert(viaDf == live.map(f => (f.path, f.rowCount)).toSet)
    // ...while shipping only manifest NAMES from the driver: every local
    // leaf is O(manifests), the file rows materialize in executors
    val leaves = t.system("files").queryExecution.executedPlan.collectLeaves()
    val localRows = leaves.collect {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l.rows.size
      case r: org.apache.spark.sql.execution.RDDScanExec => -1
    }
    val nManifests = t.store.latestSnapshot.get.manifests.size
    assert(localRows.forall(n => n >= 0 && n <= nManifests),
      s"driver-side leaf bigger than the manifest list: $localRows vs $nManifests manifests")
  }

  /** Executed plans of every query `f` runs (final adaptive plans). */
  private def plansOf(f: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val done = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        seen.add(qe.executedPlan); done.incrementAndGet()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        done.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    // listener events arrive asynchronously: a marker query after `f`
    // is the last event this listener waits for
    try {
      f
      val before = done.get()
      spark.range(1).collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (done.get() <= before && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    seen.toArray(Array.empty[SparkPlan]).toSeq
  }

  /** Plans that read merged rows through the compaction reader. */
  private def mergePlans(plans: Seq[SparkPlan]): Seq[SparkPlan] =
    plans.filter(p => collect(p) { case s: RDDScanExec => s }.nonEmpty)

  test("compaction rewrites merge bucket-locally: no exchange, no aggregate") {
    val orders = sf("orders")
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "2",
        "write-only" -> "true", "num-sorted-run.compaction-trigger" -> "2",
        "compaction.max-size-amplification-percent" -> "1000000"))
    t.upsert(orders)
    t.upsert(orders.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1))
    def assertBucketLocal(what: String, plans: Seq[SparkPlan]): Unit = {
      val rewrites = mergePlans(plans)
      assert(rewrites.nonEmpty, s"$what ran no compaction rewrite")
      rewrites.foreach { p =>
        assert(collect(p) { case e: Exchange => e }.isEmpty, s"$what shuffles:\n$p")
        assert(collect(p) { case a: BaseAggregateExec => a }.isEmpty,
          s"$what aggregates:\n$p")
        // the merge already emits the writer's (bucket, key) order
        assert(collect(p) { case s: SortExec => s }.isEmpty, s"$what sorts:\n$p")
      }
    }
    val expected = t.toDF.orderBy("o_orderkey").collect()
    assertBucketLocal("compact()", plansOf(t.compact()))
    // one file per bucket
    val compacted = t.store.liveFiles(t.store.latestSnapshot.get)
    assert(compacted.groupBy(_.bucket).values.forall(_.size == 1))
    t.upsert(orders.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 2))
    t.upsert(orders.filter(col("o_orderkey") % 7 === 0), kinds = Some(lit(GraftMeta.KindDelete)))
    val expected2 = t.toDF.orderBy("o_orderkey").collect()
    assertBucketLocal("maybeCompact() run-subset", plansOf(t.maybeCompact()))
    val live = t.store.liveFiles(t.store.latestSnapshot.get)
    // the run-subset path ran: the base stayed, each bucket gained ONE
    // level-1 run holding the merged upper runs (deletes kept)
    assert(live.filter(_.level == GraftTable.MaxLevel).map(_.path).toSet ==
      compacted.map(_.path).toSet)
    assert(live.filter(_.level < GraftTable.MaxLevel).groupBy(_.bucket).values
      .forall(fs => fs.size == 1 && fs.head.level == 1))
    assert(t.toDF.orderBy("o_orderkey").collect().sameElements(expected2))
    assert(expected.length > expected2.length)
    // the changelog producers' passes read through the same reader: a
    // full compaction's and a lookup-producer upsert's
    for (producer <- Seq("full-compaction", "lookup")) {
      val c = GraftTable.create(spark, tmpTable(), orders.schema,
        primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "2",
          "write-only" -> "true", "changelog-producer" -> producer))
      c.upsert(orders)
      c.compact()
      val update = orders.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1)
      val what = s"the $producer changelog"
      val plans =
        if (producer == "lookup") plansOf(c.upsert(update))
        else { c.upsert(update); plansOf(c.compact()) }
      assertBucketLocal(what, plans)
      assert(c.changelogOf(c.store.latestSnapshot.get)._2.nonEmpty, s"$what is empty")
    }
  }

  test("lookup changelog: merged states carry no aggregate") {
    val orders = sf("orders")
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "2",
        "changelog-producer" -> "lookup", "write-only" -> "true"))
    t.upsert(orders)
    val plans = plansOf(t.upsert(orders.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1)))
    val diffs = mergePlans(plans)
    assert(diffs.nonEmpty, "the lookup changelog read no merged state")
    // only changelogDiff's join may shuffle or aggregate (the touched-key
    // distinct): no aggregate sits above a merged-state scan
    diffs.foreach { p =>
      collect(p) { case a: BaseAggregateExec => a }.foreach { a =>
        assert(collect(a) { case s: RDDScanExec => s }.isEmpty,
          s"a merged state is aggregated:\n$p")
      }
    }
    val cl = t.incremental(1, 2).filter(col("o_orderkey") % 5 === 0)
    assert(cl.count() == 2 * orders.filter(col("o_orderkey") % 5 === 0).count())
  }

  test("an out-of-key-order run fails the merged read and compaction loudly") {
    import GraftMeta._
    val t = GraftTable.create(spark, tmpTable(),
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING"),
      primaryKeys = Seq("k"), options = Map("bucket" -> "1", "write-only" -> "true"))
    t.upsert(spark.range(100).select(col("id").as("k"), lit("a").as("v")))
    // a staged run whose keys DESCEND — what a staging-write ordering
    // regression would leave behind
    val unsorted = spark.range(50).select(col("id").as("k"), lit("b").as("v"),
        lit(2L).as(SeqCol), col("id").as(PosCol), lit(KindInsert).as(KindCol),
        lit(0).as(BucketCol))
      .coalesce(1).sortWithinPartitions(col(BucketCol), col("k").desc)
    val files = t.stageWrite(unsorted, level = 0, seq = 2)
    t.commitFiles(files.map(graft.core.ManifestEntry(graft.core.ManifestEntry.ADD, _)),
      graft.core.CommitKind.APPEND)
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val read = intercept[Exception](t.toDF.collect())
    assert(messages(read).contains("not key-sorted"), messages(read))
    val snapshots = t.store.snapshotIds
    val compaction = intercept[Exception](t.compact())
    assert(messages(compaction).contains("not key-sorted"), messages(compaction))
    assert(t.store.snapshotIds == snapshots, "a failed compaction committed a snapshot")
  }
}
