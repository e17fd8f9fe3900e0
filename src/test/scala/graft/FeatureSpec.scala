package graft

import graft.table.GraftTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class FeatureSpec extends SparkSpec {
  import spark.implicits._

  test("default values fill NULLs at read, library and SQL paths") {
    val df = Seq((1L, Some("a")), (2L, None), (3L, None))
      .toDF("k", "v")
    val t = GraftTable.create(spark, tmpTable(), df.schema, primaryKeys = Seq("k"),
      options = Map("fields.v.default-value" -> "unknown"))
    t.upsert(df)
    val got = t.toDF.orderBy("k").collect().map(_.getString(1)).toSeq
    assert(got == Seq("a", "unknown", "unknown"))
    // v2 scan path honors defaults too
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    spark.conf.set("spark.sql.catalog.g2", classOf[graft.spark.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g2.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g2.db")
    spark.sql(
      """CREATE TABLE g2.db.dv (k BIGINT, v STRING) USING graft
        |TBLPROPERTIES ('primary-key'='k', 'fields.v.default-value'='unknown')""".stripMargin)
    Seq((1L, Some("a")), (2L, None)).toDF("k", "v").createOrReplaceTempView("dv_src")
    spark.sql("INSERT INTO g2.db.dv SELECT * FROM dv_src")
    val sqlGot = spark.sql("SELECT v FROM g2.db.dv ORDER BY k").collect().map(_.getString(0))
    assert(sqlGot.toSeq == Seq("a", "unknown"))
  }

  test("schema-merge write: new columns and widenings evolve the schema") {
    val t = GraftTable.create(spark, tmpTable(),
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType))))
    t.append(Seq((1, "a")).toDF("k", "v"))
    // new column + k widened to long
    t.writeWithSchemaMerge(Seq((2L, "b", 9.5)).toDF("k", "v", "score"))
    assert(t.schema.fieldByName("k").sparkType == LongType)
    assert(t.schema.fields.map(_.name).toSeq == Seq("k", "v", "score"))
    val rows = t.toDF.orderBy("k").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows(0).isNullAt(2) && rows(1).getDouble(2) == 9.5)
  }

  test("deletion vectors: DELETE marks positions, no rewrite; reads and compaction respect them") {
    val li = sf("lineitem").limit(3000).repartition(4).cache()
    val t = GraftTable.create(spark, tmpTable(), li.schema,
      options = Map("deletion-vectors.enabled" -> "true"))
    t.append(li)
    val before = t.store.liveFiles(t.store.latestSnapshot.get)
    val exp = li.filter(col("l_quantity") >= 25).count()
    t.delete(col("l_quantity") < 25)
    val after = t.store.liveFiles(t.store.latestSnapshot.get)
    // same data files (no rewrite), but now carrying DVs
    assert(after.map(_.path).toSet == before.map(_.path).toSet)
    assert(after.exists(_.dvPath.isDefined))
    assert(t.toDF.count() == exp)
    assert(t.toDF.filter(col("l_quantity") < 25).count() == 0)
    // snapshot row accounting reflects live rows
    assert(t.store.latestSnapshot.get.totalRecordCount == exp)
    // a second delete unions into existing bitmaps
    val exp2 = li.filter(col("l_quantity") >= 25 && col("l_quantity") <= 40).count()
    t.delete(col("l_quantity") > 40)
    assert(t.toDF.count() == exp2)
    // v2 SQL path applies bitmaps executor-side
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    spark.conf.set("spark.sql.catalog.g3", classOf[graft.spark.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g3.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g3.db")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    fs.copyFromLocalFile(new org.apache.hadoop.fs.Path(t.location),
      new org.apache.hadoop.fs.Path(s"$wh/db/dvt"))
    assert(spark.sql("SELECT count(*) FROM g3.db.dvt").collect()(0).getLong(0) == exp2)
    // compaction folds DVs away and drops the sidecars from live metadata
    t.compactSmallFiles()
    assert(t.toDF.count() == exp2)
    assert(t.store.liveFiles(t.store.latestSnapshot.get).forall(_.dvPath.isEmpty))
  }

  test("$table_indexes lists DV and bloom sidecars of live files") {
    val li = sf("lineitem").limit(2000)
    val t = GraftTable.create(spark, tmpTable(), li.schema,
      options = Map("deletion-vectors.enabled" -> "true",
        "file-index.bloom.columns" -> "l_orderkey"))
    t.append(li)
    t.delete(col("l_quantity") < 10)
    val idx = t.system("table_indexes").collect()
    val types = idx.map(_.getString(0)).toSet
    assert(types.contains("DELETION_VECTOR"), types.toString)
    assert(types.exists(_.startsWith("BLOOM_FILTER:l_orderkey")), types.toString)
    // every index row points at a live data file and a real sidecar
    val live = t.store.liveFiles(t.store.latestSnapshot.get).map(_.path).toSet
    assert(idx.filter(r => r.getString(2) != null).forall(r => live.contains(r.getString(2))))
    idx.foreach { r =>
      val p = new org.apache.hadoop.fs.Path(t.store.rootPath, r.getString(1))
      assert(t.store.fs.exists(p), s"missing sidecar ${r.getString(1)}")
    }
  }

  test("bloom file index: point equality skips files stats cannot exclude") {
    val li = sf("lineitem")
    val t = GraftTable.create(spark, tmpTable(), li.schema,
      options = Map("file-index.bloom.columns" -> "l_orderkey"))
    // two commits over interleaved keys: min/max ranges overlap fully, so
    // stats alone cannot skip either file — only the bloom can
    t.append(li.filter(col("l_orderkey") % 2 === 0).coalesce(1))
    t.append(li.filter(col("l_orderkey") % 2 === 1).coalesce(1))
    val live = t.store.liveFiles(t.store.latestSnapshot.get)
    assert(live.forall(_.blooms.contains("l_orderkey")))
    // an even key must be bloom-excluded from the odd file
    import org.apache.spark.sql.sources.EqualTo
    val keep = live.filter(f => graft.spark.GraftFileIndex.bloomMightMatch(
      t.store, t.schema, f, Seq(EqualTo("l_orderkey", 8L)),
      new graft.spark.GraftFileIndex.StoredNames(t.store, t.schema)))
    assert(keep.size == 1, s"bloom should prune to one file, kept ${keep.size}")
    // answers unchanged
    val exp = li.filter(col("l_orderkey") === 8).count()
    assert(t.toDF.filter(col("l_orderkey") === 8).count() == exp)
  }

  test("orc file format: PK round trip with merge-on-read and SQL scan") {
    val df = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "v", "x")
    val t = GraftTable.create(spark, tmpTable(), df.schema, primaryKeys = Seq("k"),
      options = Map("file.format" -> "orc"))
    t.upsert(df)
    t.upsert(Seq((2L, "b2", 4.0), (3L, "c", 3.0)).toDF("k", "v", "x"))
    assert(t.store.liveFiles(t.store.latestSnapshot.get)
      .forall(_.path.endsWith(".orc")))
    val rows = t.toDF.orderBy("k").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    // DSv2 merged read over orc
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    spark.conf.set("spark.sql.catalog.g4", classOf[graft.spark.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g4.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g4.db")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    fs.copyFromLocalFile(new org.apache.hadoop.fs.Path(t.location),
      new org.apache.hadoop.fs.Path(s"$wh/db/orct"))
    val got = spark.sql("SELECT k, v FROM g4.db.orct ORDER BY k").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("cross-partition lookup changelog: global pk index bounds the pre-image " +
      "to the touched keys' own partitions") {
    // 8 partitions, ONE bucket: without the index the pre-image read would
    // pull every partition's file of the touched bucket
    val df1 = (1L to 40L).map(i => (i, s"p${i % 8}", i * 1.0))
      .toDF("id", "pt", "amount")
    val t = GraftTable.create(spark, tmpTable(), df1.schema,
      partitionKeys = Seq("pt"), primaryKeys = Seq("id"),
      options = Map("bucket" -> "1", "changelog-producer" -> "lookup"))
    t.upsert(df1)
    val snap1 = t.store.latestSnapshot.get
    assert(snap1.indexFiles.nonEmpty, "cross-partition commit must write an index delta")
    val live1 = t.store.liveFiles(snap1)
    assert(live1.map(_.partition).distinct.size == 8)
    // key 9 lives in p1; move it to p7 with a new amount
    t.upsert(Seq((9L, "p7", 99.0)).toDF("id", "pt", "amount"))
    val live2 = t.store.liveFiles(t.store.latestSnapshot.get)
    val newFiles = {
      val old = live1.map(_.path).toSet
      live2.filterNot(f => old.contains(f.path))
    }
    // the selection lookupChangelog used: only the partition that ever held
    // key 9 — p1 — not all 8 partitions of the bucket
    val pre = t.crossPartitionPreImage(newFiles, live1, snap1.indexFiles)
    assert(pre.nonEmpty && pre.forall(_.partition == Seq("p1")),
      s"pre-image must be partition-bounded, got ${pre.map(_.partition).distinct}")
    assert(live1.size > pre.size)
    // and the changelog still retracts the OLD row from the OLD partition
    val cl = t.incremental(1, 2)
      .select("_row_kind", "id", "pt", "amount").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(cl.toSeq == Seq(("+U", 9L, "p7", 99.0), ("-U", 9L, "p1", 9.0)), cl.toSeq)
    // disabling the index at CREATE falls back; flipping it later is refused
    intercept[UnsupportedOperationException] {
      t.setOption("cross-partition.index.enabled", "false")
    }
  }

  test("cross-partition point lookup prunes to the key's indexed partitions") {
    val df1 = (1L to 40L).map(i => (i, s"p${i % 8}", i * 1.0))
      .toDF("id", "pt", "amount")
    val t = GraftTable.create(spark, tmpTable(), df1.schema,
      partitionKeys = Seq("pt"), primaryKeys = Seq("id"),
      options = Map("bucket" -> "1"))
    t.upsert(df1)
    val snap = t.store.latestSnapshot.get
    // the global index maps the pinned key to exactly its one partition
    val groups = graft.spark.GraftFileIndex.crossPartitionGroups(
      spark, t.store, t.schema, snap.indexFiles,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 9L)))
    assert(groups == Some(Set(("p1", 0))), groups)
    // an absent key is provably absent — zero groups, zero files scanned
    val none = graft.spark.GraftFileIndex.crossPartitionGroups(
      spark, t.store, t.schema, snap.indexFiles,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 999L)))
    assert(none == Some(Set.empty[(String, Int)]), none)
    // and the lookup still answers correctly through the merged scan
    val row = t.toDF.filter(col("id") === 9).collect()
    assert(row.length == 1 && row(0).getString(1) == "p1" && row(0).getDouble(2) == 9.0)
    // unpinned predicates keep the full scan
    assert(t.toDF.filter(col("amount") > 35.0).count() == 5)
  }

  test("cross-partition upsert: a key moving partitions keeps one live version") {
    val df1 = Seq((1L, "2024-01", 10.0), (2L, "2024-01", 20.0), (3L, "2024-02", 30.0))
      .toDF("id", "month", "amount")
    val t = GraftTable.create(spark, tmpTable(), df1.schema,
      partitionKeys = Seq("month"), primaryKeys = Seq("id"),
      options = Map("bucket" -> "2"))
    assert(t.schema.crossPartition)
    t.upsert(df1)
    // key 2 moves to partition 2024-02 with a new amount
    t.upsert(Seq((2L, "2024-02", 25.0)).toDF("id", "month", "amount"))
    val rows = t.toDF.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.toSeq == Seq(
      (1L, "2024-01", 10.0), (2L, "2024-02", 25.0), (3L, "2024-02", 30.0)),
      s"moved key must surface once, in its new partition: ${rows.toSeq}")
    // v2 SQL path merges across partitions too
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    spark.conf.set("spark.sql.catalog.g5", classOf[graft.spark.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g5.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g5.db")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    fs.copyFromLocalFile(new org.apache.hadoop.fs.Path(t.location),
      new org.apache.hadoop.fs.Path(s"$wh/db/xpt"))
    val sqlRows = spark.sql("SELECT id, month, amount FROM g5.db.xpt ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(sqlRows.toSeq == rows.toSeq)
    // compaction folds the stale version away and answers stay identical
    t.compact()
    val after = t.toDF.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(after.toSeq == rows.toSeq)
  }

  test("branches: independent writes, expiry safety, fast-forward") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val t = GraftTable.create(spark, tmpTable(), df.schema, primaryKeys = Seq("k"))
    t.upsert(df)
    t.createBranch("dev", 1)
    val dev = t.branch("dev")
    dev.upsert(Seq((3L, "c")).toDF("k", "v"))
    // branch sees its write, main does not
    assert(dev.toDF.count() == 3)
    assert(t.toDF.count() == 2)
    // main keeps evolving independently
    t.upsert(Seq((9L, "z")).toDF("k", "v"))
    assert(t.toDF.count() == 3)
    assert(dev.toDF.count() == 3)
    // expiring main must not delete files the branch still references
    t.compact()
    t.expireSnapshots(retainLast = 1)
    assert(dev.toDF.count() == 3)
    // fast-forward main to the branch head
    t.fastForward("dev")
    assert(t.toDF.orderBy("k").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(t.system("branches").collect().map(_.getString(0)).toSeq == Seq("dev"))
  }

  test("dynamic bucket mode: buckets grow with keys, updates stay in place") {
    val df = (1L to 900L).map(k => (k, s"v$k")).toDF("k", "v")
    val t = GraftTable.create(spark, tmpTable(),
      StructType(Seq(StructField("k", LongType, nullable = false),
        StructField("v", StringType))),
      primaryKeys = Seq("k"),
      options = Map("bucket" -> "-1",
        "dynamic-bucket.target-row-num" -> "100",
        "dynamic-bucket.assigner-parallelism" -> "2"))
    t.upsert(df.filter(col("k") <= 300))
    def bucketsOf(): Map[Long, Long] = {
      val snap = t.store.latestSnapshot.get
      t.rawDF(t.store.liveFiles(snap)).select(col("k"), col("__bucket"))
        .collect().groupBy(_.getLong(0)).map { case (k, rs) =>
          k -> rs.map(_.getInt(1).toLong).max }
    }
    val b1 = bucketsOf()
    val bucketCount1 = b1.values.toSet.size
    assert(bucketCount1 >= 3, s"300 keys / target 100 should open >=3 buckets, got $bucketCount1")
    // more NEW keys must open NEW buckets, never move existing keys
    t.upsert(df)
    val b2 = bucketsOf()
    assert(b2.values.toSet.size > bucketCount1, "bucket count must grow with new keys")
    b1.foreach { case (k, b) => assert(b2(k) == b, s"key $k moved bucket $b -> ${b2(k)}") }
    // an UPDATE of existing keys routes to the assigned buckets (no growth)
    t.upsert(df.filter(col("k") % 10 === 0).withColumn("v", lit("upd")))
    val b3 = bucketsOf()
    assert(b3.values.toSet.size == b2.values.toSet.size)
    b2.foreach { case (k, b) => assert(b3(k) == b) }
    // merged read is exact
    val got = t.toDF.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.length == 900)
    assert(got.forall { case (k, v) => v == (if (k % 10 == 0) "upd" else s"v$k") })
    // per-bucket fill respects the target (hash collisions only co-locate)
    val fill = b3.groupBy(_._2).view.mapValues(_.size)
    assert(fill.values.forall(_ <= 110), s"bucket overfilled: ${fill.toMap}")

    // point-lookup pruning through the durable hash index: a pinned pk
    // equality resolves to exactly the key's assigned bucket
    val snap = t.store.latestSnapshot.get
    val dyn = graft.spark.GraftFileIndex.dynamicBuckets(
      spark, t.store, t.schema, snap.indexFiles,
      Seq(org.apache.spark.sql.sources.EqualTo("k", 42L)))
    assert(dyn == Some(Set(b3(42L).toInt)), s"expected bucket ${b3(42L)}, got $dyn")
    assert(t.lookup(Map("k" -> 42L)).map(_.getString(1)).contains("v42"))
    // a key the index never assigned prunes to zero buckets → empty scan
    val absent = graft.spark.GraftFileIndex.dynamicBuckets(
      spark, t.store, t.schema, snap.indexFiles,
      Seq(org.apache.spark.sql.sources.EqualTo("k", 424242L)))
    assert(absent == Some(Set.empty[Int]), s"got $absent")
    assert(t.toDF.filter(col("k") === 424242L).isEmpty)
  }

  test("dynamic-bucket index deltas consolidate past the threshold") {
    val df = (1L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
    val t = GraftTable.create(spark, tmpTable(),
      StructType(Seq(StructField("k", LongType, nullable = false),
        StructField("v", StringType))),
      primaryKeys = Seq("k"),
      options = Map("bucket" -> "-1",
        "dynamic-bucket.target-row-num" -> "100",
        "dynamic-bucket.index-compact.threshold" -> "3"))
    // four keyed commits → four index deltas → folded once past 3
    (0 until 4).foreach(i =>
      t.upsert(df.filter(col("k") > i * 100 && col("k") <= (i + 1) * 100)))
    val snap = t.store.latestSnapshot.get
    assert(snap.indexFiles.size <= 2,
      s"index deltas not consolidated: ${snap.indexFiles}")
    // assignments and reads survive the fold
    assert(t.toDF.count() == 400)
    val dyn = graft.spark.GraftFileIndex.dynamicBuckets(
      spark, t.store, t.schema, snap.indexFiles,
      Seq(org.apache.spark.sql.sources.EqualTo("k", 250L)))
    assert(dyn.exists(_.size == 1), s"got $dyn")
    assert(t.lookup(Map("k" -> 250L)).map(_.getString(1)).contains("v250"))
    // an update commit (no new keys) adds no delta and keeps the fold
    t.upsert(df.filter(col("k") <= 50).withColumn("v", lit("upd")))
    assert(t.store.latestSnapshot.get.indexFiles.size <= 2)
    assert(t.lookup(Map("k" -> 10L)).map(_.getString(1)).contains("upd"))
  }

  test("global pk index deltas consolidate past the threshold, deduped") {
    val t = GraftTable.create(spark, tmpTable(),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("pt", StringType), StructField("amount", DoubleType))),
      partitionKeys = Seq("pt"), primaryKeys = Seq("id"),
      options = Map("bucket" -> "1",
        "dynamic-bucket.index-compact.threshold" -> "3"))
    assert(t.schema.globalIndexEnabled)
    // four keyed commits re-upserting overlapping keys at the SAME
    // locations → four deltas with duplicate triples → folded + deduped
    (0 until 4).foreach { i =>
      t.upsert((1L to 20L).map(k => (k, s"p${k % 4}", k + i * 0.5))
        .toDF("id", "pt", "amount"))
    }
    val snap = t.store.latestSnapshot.get
    assert(snap.indexFiles.size <= 2,
      s"global index deltas not consolidated: ${snap.indexFiles}")
    // the fold dir holds ONE triple per (key, partition, bucket), not 3
    val foldDirs = snap.indexFiles.filter(_.startsWith("index/fold-"))
    assert(foldDirs.nonEmpty, s"no fold dir in ${snap.indexFiles}")
    val folded = spark.read.parquet(foldDirs.map(d =>
      new org.apache.hadoop.fs.Path(t.store.rootPath, d).toString): _*)
    assert(folded.count() == folded.distinct().count())
    // lookups still resolve through the folded index
    val groups = graft.spark.GraftFileIndex.crossPartitionGroups(
      spark, t.store, t.schema, snap.indexFiles,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 6L)))
    assert(groups == Some(Set(("p2", 0))), groups)
    assert(t.toDF.filter(col("id") === 6L).collect()
      .map(_.getDouble(2)).toSeq == Seq(7.5))
  }

  test("rebuildGlobalIndex retrofits full coverage onto an index-less table") {
    val df1 = (1L to 40L).map(i => (i, s"p${i % 8}", i * 1.0))
      .toDF("id", "pt", "amount")
    val t = GraftTable.create(spark, tmpTable(), df1.schema,
      partitionKeys = Seq("pt"), primaryKeys = Seq("id"),
      options = Map("bucket" -> "1", "cross-partition.index.enabled" -> "false"))
    t.upsert(df1)
    t.upsert(Seq((9L, "p7", 99.0)).toDF("id", "pt", "amount")) // key 9 moves
    assert(t.store.latestSnapshot.get.indexFiles.isEmpty)
    // SET cannot flip the flag on a populated table...
    intercept[UnsupportedOperationException] {
      t.setOption("cross-partition.index.enabled", "true")
    }
    // ...the rebuild procedure can: flag on + one fold covering every live row
    t.rebuildGlobalIndex()
    assert(t.schema.globalIndexEnabled)
    val snap = t.store.latestSnapshot.get
    assert(snap.indexFiles.size == 1, snap.indexFiles)
    // the moved key resolves to BOTH its partitions (old holds the stale
    // version the merge retracts), a stationary key to exactly one
    val moved = graft.spark.GraftFileIndex.crossPartitionGroups(
      spark, t.store, t.schema, snap.indexFiles,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 9L)))
    assert(moved == Some(Set(("p1", 0), ("p7", 0))), moved)
    val still = graft.spark.GraftFileIndex.crossPartitionGroups(
      spark, t.store, t.schema, snap.indexFiles,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 10L)))
    assert(still == Some(Set(("p2", 0))), still)
    // lookups answer correctly and SUBSEQUENT writes append their own deltas
    assert(t.toDF.filter(col("id") === 9).collect().map(_.getString(1)).toSeq == Seq("p7"))
    t.upsert(Seq((41L, "p3", 41.0)).toDF("id", "pt", "amount"))
    assert(t.store.latestSnapshot.get.indexFiles.size == 2)
    val fresh = graft.spark.GraftFileIndex.crossPartitionGroups(
      spark, t.store, t.schema, t.store.latestSnapshot.get.indexFiles,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 41L)))
    assert(fresh == Some(Set(("p3", 0))), fresh)
  }

  test("index fold commit drops only consumed deltas; concurrent deltas survive") {
    // the consolidation race: a keyed write lands a new index delta BETWEEN
    // the fold reading snap.indexFiles and the COMPACT commit. The commit
    // must drop exactly the consumed dirs and keep the interloper — a
    // wholesale replace would silently lose its assignments.
    val t = GraftTable.create(spark, tmpTable(),
      StructType(Seq(StructField("k", LongType, nullable = false),
        StructField("v", StringType))),
      primaryKeys = Seq("k"))
    t.commitFiles(Nil, graft.core.CommitKind.APPEND, indexFiles = Seq("index/d1"))
    t.commitFiles(Nil, graft.core.CommitKind.APPEND, indexFiles = Seq("index/d2"))
    val foldInput = t.store.latestSnapshot.get.indexFiles
    assert(foldInput == Seq("index/d1", "index/d2"))
    t.commitFiles(Nil, graft.core.CommitKind.APPEND, indexFiles = Seq("index/d3"))
    t.commitFiles(Nil, graft.core.CommitKind.COMPACT,
      indexFiles = Seq("index/fold"), consumedIndexFiles = foldInput)
    assert(t.store.latestSnapshot.get.indexFiles == Seq("index/d3", "index/fold"))
  }

  test("rbm32/rbm64 aggregators union bitmap metrics in both merge paths") {
    import spark.implicits._
    import graft.functions.BitmapAgg
    import org.roaringbitmap.RoaringBitmap
    import org.roaringbitmap.longlong.Roaring64NavigableMap
    def bm32(xs: Int*): Array[Byte] = BitmapAgg.serialize(RoaringBitmap.bitmapOf(xs: _*))
    def bm64(xs: Long*): Array[Byte] = {
      val m = new Roaring64NavigableMap(); xs.foreach(m.addLong); BitmapAgg.serialize64(m)
    }
    val df1 = Seq((1L, bm32(1, 2), bm64(10L)), (2L, bm32(5), bm64(50L)))
      .toDF("k", "visitors", "events")
    val wh = java.nio.file.Files.createTempDirectory("graft-rbm-wh").toString
    spark.conf.set("spark.sql.catalog.grbm", classOf[graft.spark.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grbm.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS grbm.db")
    val t = GraftTable.create(spark, s"$wh/db/rbm_t", df1.schema,
      primaryKeys = Seq("k"),
      options = Map("bucket" -> "2", "merge-engine" -> "aggregation",
        "fields.visitors.aggregate-function" -> "rbm32",
        "fields.events.aggregate-function" -> "rbm64",
        "write-only" -> "true"))
    t.upsert(df1)
    t.upsert(Seq((1L, bm32(2, 3), bm64(11L))).toDF("k", "visitors", "events"))
    def check(rows: Array[org.apache.spark.sql.Row]): Unit = {
      val byK = rows.map(r => r.getLong(0) ->
        (BitmapAgg.deserialize(r.getAs[Array[Byte]](1)),
          BitmapAgg.deserialize64(r.getAs[Array[Byte]](2)))).toMap
      assert(byK(1L)._1.toArray.toSeq == Seq(1, 2, 3))
      assert(byK(1L)._2.toArray.toSeq == Seq(10L, 11L))
      assert(byK(2L)._1.toArray.toSeq == Seq(5))
    }
    // DataFrame fold (the test oracle's rbm aggregators)
    check(ReferenceMerge.read(t, t.store.latestSnapshot.get).orderBy("k").collect())
    check(t.toDF.orderBy("k").collect())
    // executor row-merge path (DSv2 catalog scan)
    check(spark.sql("SELECT k, visitors, events FROM grbm.db.rbm_t ORDER BY k").collect())
  }

  test("computed columns derive partition values at write time") {
    import spark.implicits._
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-15 10:30:00"), "a"),
      (2L, java.sql.Timestamp.valueOf("2025-07-01 23:05:00"), "b"))
      .toDF("id", "ts", "v")
    val full = df.withColumn("pt", lit(0)).withColumn("nm", lit(""))
    val t = GraftTable.create(spark, tmpTable(), full.schema,
      partitionKeys = Seq("pt"),
      options = Map("computed-columns" ->
        "pt=year(ts), nm=substring(v, 1, 2)"))
    // writer supplies NO pt/nm values — they derive from ts/v
    t.append(df.withColumn("pt", lit(null).cast("int"))
      .withColumn("nm", lit(null).cast("string")))
    val rows = t.toDF.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getString(4)))
    assert(rows.toSeq == Seq((1L, 2024, "a"), (2L, 2025, "b")), rows.mkString(","))
    // partition pruning works on the derived column
    assert(t.toDF.filter(col("pt") === 2024).count() == 1)
    // truncate buckets numerics; cast and date_format compile too
    val spec = "b=truncate(id, 10), d=date_format(ts, 'yyyy-MM'), c=cast(id, 'string')"
    val parsed = graft.table.ComputedColumns.parse(spec,
      n => if (n == "id") Some("bigint") else Some("timestamp"))
    assert(parsed.map(_._1) == Seq("b", "d", "c"))
    val out = df.select(parsed.map { case (n, c) => c.as(n) }: _*).orderBy("c").collect()
    assert(out(0).getLong(0) == 0L && out(0).getString(1) == "2024-03")
  }

  /** Every live file's writer-collected stats and bloom sidecar bytes
    * equal the scan-aggregate oracle's over the same files. */
  private def assertOracleStats(t: GraftTable): Unit = {
    val files = t.store.liveFiles(t.store.latestSnapshot.get)
    val ref = ReferenceStats.of(t, files)
    assert(files.nonEmpty && ref.keySet == files.map(_.path).toSet)
    files.foreach { f =>
      val r = ref(f.path)
      assert(f.rowCount == r.rowCount, f.path)
      assert(f.stats == r.stats, s"stats diverged in ${f.path}:\n" +
        s"  writer: ${f.stats.toSeq.sortBy(_._1)}\n  oracle: ${r.stats.toSeq.sortBy(_._1)}")
      assert(f.blooms.keySet == r.blooms.keySet, f.path)
      f.blooms.foreach { case (n, rel) =>
        val in = t.store.fs.open(new org.apache.hadoop.fs.Path(t.store.rootPath, rel))
        val bytes = try in.readAllBytes() finally in.close()
        assert(bytes.sameElements(r.blooms(n)), s"bloom of $n diverged in ${f.path}")
      }
    }
  }

  test("writer-collected stats equal the scan-aggregate oracle across all stat types") {
    // mixed-type frame incl nulls, long strings past the 64-char cap,
    // decimals, dates, booleans and both timestamp flavors
    val df = sf("orders").limit(500)
      .withColumn("dec", (col("o_totalprice") * 100).cast("decimal(12,2)"))
      .withColumn("dt", to_date(col("o_orderdate")))
      .withColumn("ntz", col("o_orderdate").cast("timestamp_ntz"))
      .withColumn("flag", col("o_orderkey") % 2 === 0)
      .withColumn("price32", col("o_totalprice").cast("float"))
      .withColumn("longstr",
        when(col("o_orderkey") % 3 === 0, lit(null))
          .otherwise(concat(lit("x" * 80), col("o_orderkey").cast("string"))))
      .cache()
    val cnt = df.filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp")).count()
    assert(cnt > 0)
    for (fmt <- Seq("parquet", "orc", "avro")) {
      // partitioned append table with bloom columns of two types
      val ta = GraftTable.create(spark, tmpTable(), df.schema,
        partitionKeys = Seq("o_orderstatus"),
        options = Map("write-only" -> "true", "file.format" -> fmt,
          "file-index.bloom.columns" -> "o_orderkey,o_clerk"))
      ta.append(df)
      assertOracleStats(ta)
      // bucketed PK table: sequence/kind columns and bucket dirs
      val tk = GraftTable.create(spark, tmpTable(), df.schema,
        primaryKeys = Seq("o_orderkey"),
        options = Map("write-only" -> "true", "file.format" -> fmt, "bucket" -> "2",
          "file-index.bloom.columns" -> "o_orderkey"))
      tk.upsert(df)
      assertOracleStats(tk)
      // pruning correctness through the collected stats
      for (t <- Seq(ta, tk)) assert(t.toDF
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp"))
        .count() == cnt, fmt)
    }
  }

  test("source.split.target-size / open-file-cost shape raw-scan splits") {
    import spark.implicits._
    val df = Seq.tabulate(100)(i => (i.toLong, s"v$i")).toDF("k", "v")
    def splits(opts: Map[String, String], files: Int): Int = {
      val t = GraftTable.create(spark, tmpTable(), df.schema, options = opts)
      // `files` 700-byte files in one commit: planning never opens them
      t.store.commit((0 until files).map(i => graft.core.ManifestEntry(
        graft.core.ManifestEntry.ADD, graft.core.DataFileMeta(f"data/f-$i%03d.parquet", 700,
          10, Nil, 0, 0, 1, 1, t.schema.id, Map.empty))), "APPEND")
      new graft.spark.v2.GraftScan(spark, t, None, t.schema.structType, Nil, None)
        .planInputPartitions().length
    }
    val cores = spark.sparkContext.defaultParallelism
    // defaults: the split size shrinks to spread tiny files over the cores
    // (Spark's FilePartition.maxSplitBytes rule) but never below the
    // open-file-cost, so 2 files of 4mb weight share each of `cores` splits
    assert(splits(Map.empty, 2 * cores) == cores)
    // tiny target: one split per file
    assert(splits(Map("source.split.target-size" -> "1b"), 8) == 8)
    // open-file-cost dominates tiny files: 4 files of weight>=32kb per 128kb
    // split even though their bytes would all fit in one
    assert(splits(Map("source.split.target-size" -> "128kb",
      "source.split.open-file-cost" -> "32kb"), 8 * cores) == 2 * cores)
  }

  test("scan.plan-sort-partition orders raw splits by partition value") {
    import spark.implicits._
    val df = Seq(("c", 1L), ("a", 2L), ("b", 3L)).toDF("pt", "v")
    val t = GraftTable.create(spark, tmpTable(), df.schema,
      partitionKeys = Seq("pt"),
      options = Map("scan.plan-sort-partition" -> "true",
        "source.split.target-size" -> "1b")) // one split per file
    t.append(df)
    val parts = new graft.spark.v2.GraftScan(
        spark, t, None, t.schema.structType, Nil, None)
      .planInputPartitions()
      .map(_.asInstanceOf[graft.spark.v2.GraftInputPartition])
    val order = parts.map(_.files.head.partition.mkString).toSeq
    assert(order == order.sorted, order.toString)
    assert(order == Seq("a", "b", "c"))

    // numeric partitions order by VALUE, not path string ("2" before "10")
    val ndf = Seq((10L, "x"), (2L, "y"), (1L, "z")).toDF("pt", "v")
    val nt = GraftTable.create(spark, tmpTable(), ndf.schema,
      partitionKeys = Seq("pt"),
      options = Map("scan.plan-sort-partition" -> "true",
        "source.split.target-size" -> "1b"))
    nt.append(ndf)
    val norder = new graft.spark.v2.GraftScan(
        spark, nt, None, nt.schema.structType, Nil, None)
      .planInputPartitions()
      .map(_.asInstanceOf[graft.spark.v2.GraftInputPartition])
      .map(_.files.head.partition.mkString).toSeq
    assert(norder == Seq("1", "2", "10"), norder.toString)
  }

  test("$file_monitor lists per-snapshot file changes") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val t = GraftTable.create(spark, tmpTable(), df.schema,
      primaryKeys = Seq("k"), options = Map("bucket" -> "1", "write-only" -> "true"))
    t.upsert(df)
    t.upsert(df.withColumn("v", lit("x")))
    t.compact()
    val fm = t.system("file_monitor").collect()
    val bySnap = fm.map(r => r.getLong(0) ->
      (r.getSeq[String](3), r.getSeq[String](4))).toMap
    // writes add files and remove none; compaction replaces both L0 runs
    assert(bySnap(1L)._1.isEmpty && bySnap(1L)._2.size == 1)
    assert(bySnap(2L)._1.isEmpty && bySnap(2L)._2.size == 1)
    assert(bySnap(3L)._1.size == 2 && bySnap(3L)._2.size == 1)
  }

  test("file.compression sets the data-file codec") {
    import spark.implicits._
    // highly compressible payload so the codec visibly changes file size
    val df = spark.range(20000)
      .select(col("id").as("k"), lit("abcabcabc abcabcabc abcabcabc").as("v"))
    def totalBytes(opts: Map[String, String]): Long = {
      val t = GraftTable.create(spark, tmpTable(), df.schema, options = opts)
      t.append(df)
      assert(t.toDF.count() == 20000)
      t.store.liveFiles(t.store.latestSnapshot.get).map(_.size).sum
    }
    val none = totalBytes(Map("file.compression" -> "none"))
    val zstd = totalBytes(Map("file.compression" -> "zstd"))
    assert(zstd < none, s"zstd=$zstd none=$none")
    // orc honors it too
    val orcNone = totalBytes(Map("file.format" -> "orc", "file.compression" -> "none"))
    val orcZstd = totalBytes(Map("file.format" -> "orc", "file.compression" -> "zstd"))
    assert(orcZstd < orcNone, s"zstd=$orcZstd none=$orcNone")
  }

  test("file.compression.per.level: L0 codec differs from compacted-level codec") {
    import spark.implicits._
    val df = spark.range(20000)
      .select(col("id").as("k"), lit("abcabcabc abcabcabc abcabcabc").as("v"))
    val t = GraftTable.create(spark, tmpTable(), df.schema,
      primaryKeys = Seq("k"),
      options = Map("bucket" -> "1", "write-only" -> "true",
        "file.compression.per.level" -> s"0:none,${GraftTable.MaxLevel}:zstd"))
    t.upsert(df)
    val l0 = t.store.liveFiles(t.store.latestSnapshot.get)
    assert(l0.forall(_.level == 0))
    val l0Bytes = l0.map(_.size).sum
    t.compact()
    val top = t.store.liveFiles(t.store.latestSnapshot.get)
    assert(top.forall(_.level == GraftTable.MaxLevel))
    val topBytes = top.map(_.size).sum
    // same rows: the compacted zstd file must be much smaller than the
    // uncompressed L0 run
    assert(topBytes * 2 < l0Bytes, s"top=$topBytes l0=$l0Bytes")
    assert(t.toDF.count() == 20000)
  }

  test("file.block-size governs parquet row-group count (write-side scan granularity)") {
    val li = sf("lineitem").limit(20000)
    def rowGroups(opts: Map[String, String]): Int = {
      val t = GraftTable.create(spark, tmpTable(), li.schema, options = opts)
      t.append(li.coalesce(1))
      val f = t.store.liveFiles(t.store.latestSnapshot.get).head
      val p = new org.apache.hadoop.fs.Path(t.store.rootPath, f.path)
      val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        spark.sessionState.newHadoopConf(), p)
      footer.getBlocks.size()
    }
    val small = rowGroups(Map("file.block-size" -> "64kb"))
    val big = rowGroups(Map("file.block-size" -> "128mb"))
    assert(big == 1, s"one huge row group at 128mb, got $big")
    assert(small > big, s"64kb blocks split into multiple row groups, got $small")
  }

  test("partition mark-done: _SUCCESS markers, explicit + idle-based") {
    val orders = sf("orders").limit(200)
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      partitionKeys = Seq("o_orderstatus"))
    t.append(orders)
    // explicit mark via the procedure surface
    val marked = t.markPartitionsDone(Seq(Seq("O")))
    assert(marked == Seq(Seq("O")))
    val success = new org.apache.hadoop.fs.Path(
      t.store.dataDir, "o_orderstatus=O/_SUCCESS")
    assert(t.store.fs.exists(success))
    val json1 = graft.core.Json.parse(new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(t.store.fs.open(success))))
    val created = json1.get("creationTime").asLong()
    assert(created > 0 && json1.get("modificationTime").asLong() >= created)
    // re-marking refreshes modificationTime, keeps creationTime
    Thread.sleep(10)
    t.markPartitionsDone(Seq(Seq("O")))
    val json2 = graft.core.Json.parse(new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(t.store.fs.open(success))))
    assert(json2.get("creationTime").asLong() == created)
    assert(json2.get("modificationTime").asLong() > json1.get("modificationTime").asLong())
    // idle-based: with a zero idle threshold every live partition is done
    t.setOption("partition.idle-time-to-done", "0 ms")
    Thread.sleep(10)
    val idle = t.markPartitionsDone()
    val expect = orders.select("o_orderstatus").distinct().collect()
      .map(r => Seq(r.getString(0))).toSet
    assert(idle.toSet == expect, s"all live partitions idle: $idle")
    // unpartitioned tables reject mark-done
    val flat = GraftTable.create(spark, tmpTable(), orders.schema)
    intercept[IllegalArgumentException](flat.markPartitionsDone(Seq(Seq("x"))))
  }

  test("snapshot.expire.clean-empty-directories removes dead partition dirs") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "pt")
    val t = GraftTable.create(spark, tmpTable(), df.schema,
      partitionKeys = Seq("pt"),
      options = Map("snapshot.expire.clean-empty-directories" -> "true"))
    t.append(df)
    t.delete(col("pt") === "b") // metadata partition drop
    t.append(Seq((4L, "a")).toDF("id", "pt")) // extra snapshot to expire past
    val bDir = new org.apache.hadoop.fs.Path(t.store.dataDir, "pt=b")
    assert(t.store.fs.exists(bDir), "dir still holds the expired-visible file")
    t.expireSnapshots(retainLast = 1)
    assert(!t.store.fs.exists(bDir), "empty partition dir cleaned after expiry")
    // surviving partitions untouched
    assert(t.toDF.count() == 3)
    assert(t.store.fs.exists(new org.apache.hadoop.fs.Path(t.store.dataDir, "pt=a")))
  }

  test("commit.callbacks fire after every durable commit; failures never fail the write") {
    TestCommitCallback.reset()
    val orders = sf("orders").limit(100)
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"),
      options = Map("bucket" -> "2", "write-only" -> "true",
        "commit.callbacks" ->
          (classOf[TestCommitCallback].getName + ", " +
            classOf[FailingCommitCallback].getName)))
    t.upsert(orders)
    t.upsert(orders.limit(10))
    t.compact()
    val calls = TestCommitCallback.calls.get()
    assert(calls.size == 3, s"one callback per commit: $calls")
    assert(calls.map(_._2) == Seq("APPEND", "APPEND", "COMPACT"))
    assert(calls.forall(_._3 > 0), "entries visible to the callback")
    // the failing callback threw on every commit, yet all writes succeeded
    assert(t.toDF.count() == 100)
  }

  test("commit.callbacks: unresolvable class fails at CREATE, not after a durable commit") {
    val orders = sf("orders").limit(10)
    val e = intercept[IllegalArgumentException] {
      GraftTable.create(spark, tmpTable(), orders.schema,
        options = Map("commit.callbacks" -> "no.such.CallbackClazz"))
    }
    assert(e.getMessage.contains("no.such.CallbackClazz"))
    // a resolvable class that is not a CommitCallback is rejected too
    val e2 = intercept[IllegalArgumentException] {
      GraftTable.create(spark, tmpTable(), orders.schema,
        options = Map("commit.callbacks" -> "java.lang.String"))
    }
    assert(e2.getMessage.contains("does not implement"))
  }

  test("metadata.stats-mode: none/counts/full/truncate govern manifest stats") {
    val rows = (1 to 50).map(i => (i.toLong, "verylongstringvalue%04d".format(i)))
    import spark.implicits._
    val df = rows.toDF("id", "s")

    def firstStats(opts: Map[String, String]) = {
      val t = GraftTable.create(spark, tmpTable(), df.schema, options = opts)
      t.append(df.coalesce(1)) // one file → its stats cover all rows
      (t, t.store.liveFiles(t.store.latestSnapshot.get).head.stats)
    }

    // none: the column is never measured
    val (_, none) = firstStats(Map("metadata.stats-mode" -> "none"))
    assert(none.isEmpty)
    // counts: null count only
    val (_, counts) = firstStats(Map("metadata.stats-mode" -> "counts"))
    assert(counts("s").min.isEmpty && counts("s").max.isEmpty && counts("s").nullCount == 0)
    // truncate(8): bounds stored short but OUTER (min prefix <= real min,
    // max truncated UP past the real max)
    val (t8, tr) = firstStats(Map("metadata.stats-mode" -> "truncate(8)"))
    assert(tr("s").min.exists(_.length <= 8))
    assert(tr("s").max.exists(m => m.length <= 8 && m > "verylongstringvalue0050".take(8)))
    // full: exact untruncated bounds
    val (_, full) = firstStats(Map("metadata.stats-mode" -> "full"))
    assert(full("s").min.contains("verylongstringvalue0001"))
    assert(full("s").max.contains("verylongstringvalue0050"))
    // per-field override beats the table default
    val (_, mixed) = firstStats(Map(
      "metadata.stats-mode" -> "none", "fields.id.stats-mode" -> "full"))
    assert(mixed.contains("id") && !mixed.contains("s"))
    // truncated stats must stay SOUND: no false skip on a long-string match
    assert(t8.toDF.filter(col("s") === "verylongstringvalue0042").count() == 1)
    // typos fail DDL, not the first write
    intercept[IllegalArgumentException](GraftTable.create(spark, tmpTable(), df.schema,
      options = Map("metadata.stats-mode" -> "bogus")))
    intercept[IllegalArgumentException](GraftTable.create(spark, tmpTable(), df.schema,
      options = Map("fields.nope.stats-mode" -> "full")))
  }

  test("file.format accepts avro (round 9); unknown formats rejected at create time") {
    // avro is a first-class format since round 9 (AvroFormatSpec covers it)
    val t = GraftTable.create(spark, tmpTable(), sf("orders").schema,
      options = Map("file.format" -> "avro"))
    assert(t.schema.fileFormat == "avro")
    // unknown formats are rejected, not silently mapped to parquet
    val e = intercept[IllegalArgumentException] {
      GraftTable.create(spark, tmpTable(), sf("orders").schema,
        options = Map("file.format" -> "csv"))
    }
    assert(e.getMessage.contains("unsupported file.format"), e.getMessage)
  }

  test("ORC writer-collected stats equal the scan-aggregate oracle") {
    val df = sf("orders").limit(500)
      .withColumn("dec", (col("o_totalprice") * 100).cast("decimal(12,2)"))
      .withColumn("dt", to_date(col("o_orderdate")))
      .withColumn("flag", col("o_orderkey") % 2 === 0)
      .withColumn("longstr",
        when(col("o_orderkey") % 3 === 0, lit(null))
          .otherwise(concat(lit("x" * 80), col("o_orderkey").cast("string"))))
      .cache()
    val tf = GraftTable.create(spark, tmpTable(), df.schema,
      options = Map("write-only" -> "true", "file.format" -> "orc"))
    tf.append(df)
    assertOracleStats(tf)
    // and with a bloom column: the sidecar bytes match too
    val ts = GraftTable.create(spark, tmpTable(), df.schema,
      options = Map("write-only" -> "true", "file.format" -> "orc",
        "file-index.bloom.columns" -> "o_orderkey"))
    ts.append(df)
    assertOracleStats(ts)
    // pruning correctness through the collected stats
    val cnt = df.filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp")).count()
    assert(cnt > 0 && tf.toDF
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp"))
      .count() == cnt)
  }

  test("writer-collected stats stay in the micros domain under TIMESTAMP_MILLIS output") {
    // a writer configured for millis parquet timestamps must not poison
    // the epoch-micros stats domain (bounds 1000x too small would let
    // pruning skip files that contain matching rows), and bounds must
    // describe the STORED values, which lose their sub-millisecond digits
    val df = sf("orders").limit(500)
      .withColumn("ntz", col("o_orderdate").cast("timestamp_ntz"))
      .withColumn("sub", timestamp_micros(unix_micros(col("o_orderdate").cast("timestamp")) +
        col("o_orderkey") % 1000 + 1))
      .cache()
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try {
      val tf = GraftTable.create(spark, tmpTable(), df.schema,
        options = Map("write-only" -> "true", "file-index.bloom.columns" -> "sub"))
      tf.append(df)
      assertOracleStats(tf)
      // pruning correctness: a timestamp range filter must still see rows
      val cnt = df.filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp")).count()
      assert(cnt > 0)
      assert(tf.toDF
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp"))
        .count() == cnt)
      // the smallest stored value is found by an equality filter
      val lo = tf.toDF.agg(min("sub")).head.getTimestamp(0)
      assert(tf.toDF.filter(col("sub") === lit(lo)).count() >= 1)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  test("merge_map folds later-wins on both paths without a dedup-policy dependency") {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.mapKeyDedupPolicy", "EXCEPTION") == "EXCEPTION")
    val wh = java.nio.file.Files.createTempDirectory("graft-mmwh").toString
    spark.conf.set("spark.sql.catalog.gmm", classOf[graft.spark.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmm.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmm.db")
    val df1 = Seq((1L, Map("a" -> 1.0, "b" -> 2.0))).toDF("k", "m")
    val t = GraftTable.create(spark, s"$wh/db/mm_t", df1.schema,
      primaryKeys = Seq("k"),
      options = Map("bucket" -> "1", "merge-engine" -> "aggregation",
        "fields.m.aggregate-function" -> "merge_map", "write-only" -> "true"))
    t.upsert(df1)
    t.upsert(Seq((1L, Map("b" -> 20.0, "c" -> 3.0))).toDF("k", "m"))
    val expect = Map("a" -> 1.0, "b" -> 20.0, "c" -> 3.0)
    assert(t.toDF.head().getMap[String, Double](1).toMap == expect)
    assert(spark.sql("SELECT m FROM gmm.db.mm_t").head()
      .getMap[String, Double](0).toMap == expect)
    t.compact()
    assert(t.toDF.head().getMap[String, Double](1).toMap == expect)
  }

  test("decimal/int sums keep declared types through merge and compaction") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val st = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("amt", DecimalType(10, 2)),
      StructField("n", IntegerType)))
    val t = GraftTable.create(spark, tmpTable(), st,
      primaryKeys = Seq("k"),
      options = Map("bucket" -> "1", "merge-engine" -> "aggregation",
        "fields.amt.aggregate-function" -> "sum",
        "fields.n.aggregate-function" -> "sum", "write-only" -> "true"))
    def df(v: String, n: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, new java.math.BigDecimal(v), n))), st)
    t.upsert(df("10.50", 3))
    t.upsert(df("2.25", 4))
    // declared types survive the merge (sum would widen to decimal(20,2)/bigint)
    assert(t.toDF.schema("amt").dataType == DecimalType(10, 2))
    assert(t.toDF.schema("n").dataType == IntegerType)
    val r = t.toDF.head()
    assert(r.getDecimal(1).toPlainString == "12.75" && r.getInt(2) == 7)
    // compaction rewrites under the declared schema without type poisoning
    t.compact()
    val r2 = t.toDF.head()
    assert(r2.getDecimal(1).toPlainString == "12.75" && r2.getInt(2) == 7)
  }

  test("collect aggregator concatenates arrays; distinct option dedups — both paths") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-colwh").toString
    spark.conf.set("spark.sql.catalog.gcol", classOf[graft.spark.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcol.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcol.db")
    def drive(name: String, opts: Map[String, String]): (Seq[Long], Seq[Long]) = {
      val df1 = Seq((1L, Seq(3L, 1L)), (2L, Seq(5L))).toDF("k", "xs")
      val t = GraftTable.create(spark, s"$wh/db/$name", df1.schema,
        primaryKeys = Seq("k"),
        options = Map("bucket" -> "1", "merge-engine" -> "aggregation",
          "fields.xs.aggregate-function" -> "collect", "write-only" -> "true") ++ opts)
      t.upsert(df1)
      t.upsert(Seq((1L, Seq(2L, 3L))).toDF("k", "xs"))
      val viaDf = t.toDF.filter(col("k") === 1).head().getSeq[Long](1)
      val viaScan = spark.sql(s"SELECT xs FROM gcol.db.$name WHERE k = 1")
        .head().getSeq[Long](0)
      (viaDf, viaScan)
    }
    // default: duplicates kept (reference FieldCollectAgg default)
    val (a, b) = drive("col_dup", Map.empty)
    assert(a == Seq(1L, 2L, 3L, 3L) && b == a, s"$a / $b")
    // fields.<f>.distinct dedups
    val (c, d) = drive("col_dis", Map("fields.xs.distinct" -> "true"))
    assert(c == Seq(1L, 2L, 3L) && d == c, s"$c / $d")
  }

  test("computed columns drive PK-table partition routing") {
    import spark.implicits._
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-15 10:30:00"), "a"),
      (2L, java.sql.Timestamp.valueOf("2025-07-01 23:05:00"), "b"))
      .toDF("id", "ts", "v").withColumn("pt", lit(0))
    val t = GraftTable.create(spark, tmpTable(), df.schema,
      partitionKeys = Seq("pt"), primaryKeys = Seq("id", "pt"),
      options = Map("bucket" -> "2", "computed-columns" -> "pt=year(ts)"))
    t.upsert(df) // writer's pt=0 is overwritten by the computed value
    t.upsert(Seq((1L, java.sql.Timestamp.valueOf("2024-03-15 10:30:00"), "a2"))
      .toDF("id", "ts", "v").withColumn("pt", lit(0)))
    val rows = t.toDF.orderBy("id").collect().map(r => (r.getLong(0), r.getInt(3), r.getString(2)))
    assert(rows.toSeq == Seq((1L, 2024, "a2"), (2L, 2025, "b")), rows.mkString(","))
  }

  test("SQL INSERT OVERWRITE on a primary-key table") {
    val wh = java.nio.file.Files.createTempDirectory("graft-ow-wh").toString
    spark.conf.set("spark.sql.catalog.gow", classOf[graft.spark.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gow.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gow.db")
    spark.sql(
      """CREATE TABLE gow.db.pk_t (k BIGINT, v STRING) USING graft
        |TBLPROPERTIES ('primary-key' = 'k', 'bucket' = '2')""".stripMargin)
    spark.sql("INSERT INTO gow.db.pk_t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("INSERT OVERWRITE gow.db.pk_t VALUES (7, 'x'), (8, 'y')")
    val rows = spark.sql("SELECT k, v FROM gow.db.pk_t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((7L, "x"), (8L, "y")))
    // and the bucketed layout still serves point lookups
    val t = graft.table.GraftTable.load(spark, s"$wh/db/pk_t")
    assert(t.lookup(Map("k" -> 7L)).isDefined)
  }

  test("bucket-key: routes and prunes on the pk subset; invalid specs rejected") {
    import org.apache.spark.sql.sources.EqualTo
    val df = (1L to 200L).map(i => (i, i % 10, s"v$i")).toDF("k1", "k2", "v")
    val path = tmpTable()
    val t = GraftTable.create(spark, path, df.schema,
      primaryKeys = Seq("k1", "k2"), options = Map("bucket-key" -> "k2", "bucket" -> "4"))
    t.upsert(df)
    // pinning ONLY the bucket key prunes to one bucket (the full pk is not
    // pinned — impossible before bucket-key)
    val pruned = graft.spark.GraftFileIndex.bucketsFromFilters(
      t.schema, Seq(EqualTo("k2", 3L)))
    assert(pruned.exists(_.size == 1), s"expected one bucket, got $pruned")
    // pinning only the other pk column cannot prune
    assert(graft.spark.GraftFileIndex.bucketsFromFilters(
      t.schema, Seq(EqualTo("k1", 3L))).isEmpty)
    // end-to-end through the merged read
    assert(t.toDF.filter(col("k2") === 3L).count() == 20)
    assert(t.lookup(Map("k1" -> 13L, "k2" -> 3L)).map(_.getString(2)).contains("v13"))
    // immutable once populated; must be a pk subset; not with dynamic buckets
    intercept[UnsupportedOperationException](t.setOption("bucket-key", "k1"))
    intercept[IllegalArgumentException](GraftTable.create(spark, tmpTable(), df.schema,
      primaryKeys = Seq("k1"), options = Map("bucket-key" -> "v")))
    intercept[IllegalArgumentException](GraftTable.create(spark, tmpTable(), df.schema,
      primaryKeys = Seq("k1"), options = Map("bucket-key" -> "k1", "bucket" -> "-1")))
  }

  test("bucket-key: tables with different pks SPJ-join on the shared bucket key") {
    val wh = java.nio.file.Files.createTempDirectory("graft-bk-wh").toString
    spark.conf.set("spark.sql.catalog.gbk", classOf[graft.spark.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbk.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gbk.db")
    spark.sql(
      """CREATE TABLE gbk.db.bk_a (k BIGINT, sub BIGINT, v DOUBLE) USING graft
        |TBLPROPERTIES ('primary-key' = 'k,sub', 'bucket-key' = 'k', 'bucket' = '4')""".stripMargin)
    spark.sql(
      """CREATE TABLE gbk.db.bk_b (k BIGINT, other STRING, w DOUBLE) USING graft
        |TBLPROPERTIES ('primary-key' = 'k,other', 'bucket-key' = 'k', 'bucket' = '4')""".stripMargin)
    spark.sql("INSERT INTO gbk.db.bk_a SELECT id, id % 3, id * 1.0 FROM range(100)")
    spark.sql("INSERT INTO gbk.db.bk_b SELECT id, 'x' || (id % 2), id * 2.0 FROM range(100)")
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val df = spark.sql(
        "SELECT a.k, a.v, b.w FROM gbk.db.bk_a a JOIN gbk.db.bk_b b ON a.k = b.k")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucket-key equijoin must be storage-partitioned (no shuffle):\n$plan")
      assert(df.count() == 100, "one row per k on both sides")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

/** Records (snapshotId, commitKind, entryCount) per invocation. */
class TestCommitCallback extends graft.core.CommitCallback {
  override def call(table: GraftTable, snapshot: graft.core.Snapshot,
      entries: Seq[graft.core.ManifestEntry]): Unit =
    TestCommitCallback.calls.updateAndGet(_ :+
      ((snapshot.id, snapshot.commitKind, entries.size)))
}

object TestCommitCallback {
  val calls = new java.util.concurrent.atomic.AtomicReference[
    Vector[(Long, String, Int)]](Vector.empty)
  def reset(): Unit = calls.set(Vector.empty)
}

/** Always throws — proves a callback failure never fails the write. */
class FailingCommitCallback extends graft.core.CommitCallback {
  override def call(table: GraftTable, snapshot: graft.core.Snapshot,
      entries: Seq[graft.core.ManifestEntry]): Unit =
    throw new RuntimeException("boom (intentional test failure)")
}
