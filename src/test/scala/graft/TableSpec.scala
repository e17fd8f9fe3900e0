package graft

import graft.table.GraftTable
import org.apache.spark.sql.functions._

class TableSpec extends SparkSpec {

  test("metadata json roundtrip") {
    import graft.core._
    val s = TableSchema.create(sf("lineitem").schema, Seq("l_returnflag"),
      Nil, Map("bucket" -> "4"))
    assert(TableSchema.fromJson(s.toJson) == s)
    val f = DataFileMeta("data/x.parquet", 10, 5, Seq("F"), 0, 0, 1, 1, 0,
      Map("a" -> ColStats(Some("1"), Some("9"), 2)))
    val entries = Seq(ManifestEntry(0, f), ManifestEntry(1, f),
      ManifestEntry(0, f.copy(partition = Nil,
        stats = Map("a" -> ColStats(None, Some("x"), 0)),
        dvPath = Some("dv/d.bin"), dvCount = 3,
        blooms = Map("a" -> "idx/b.bin"))))
    assert(ManifestCodec.entriesFromJson(ManifestCodec.entriesToJson(entries)) == entries)
    // v2 binary: round-trips, and the dispatching reader accepts BOTH
    // formats (pre-v2 JSON manifests keep reading in mixed chains)
    assert(ManifestCodec.entriesFromAny(
      ManifestCodec.entriesToBytes(entries)) == entries)
    assert(ManifestCodec.entriesFromAny(ManifestCodec.entriesToJson(entries)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)) == entries)
    val mm = ManifestMeta("m1", 4, 99, addOnly = true, Seq(0L),
      Some(Seq("A")), Some(Seq("R")))
    val sn = Snapshot(3, 0, Seq("m1", "m2"), Seq("m2"), "APPEND", 7,
      commitUser = "writer-a", totalRecordCount = 100, watermark = Some(5L),
      timestampMs = 123L, manifestMeta = Seq(mm), maxCommitIdentifier = 7L,
      maxCommitIdentifiers = Map("writer-a" -> 7L))
    assert(Snapshot.fromJson(sn.toJson) == sn)
  }

  test("binary manifest codec carries >64KB stats strings (stats-mode=full)") {
    import graft.core._
    // metadata.stats-mode=full keeps UNTRUNCATED min/max — a long text
    // bound must round-trip (the v2 writeUTF encoding threw
    // UTFDataFormatException past 65535 modified-UTF-8 bytes)
    val big = "ü" * 40000 // 80 KB as UTF-8, > 64 KB
    val f = DataFileMeta("data/big.parquet", 10, 5, Seq("P"), 0, 0, 1, 1, 0,
      Map("t" -> ColStats(Some(big), Some(big + "z"), 1)))
    val entries = Seq(ManifestEntry(0, f))
    assert(ManifestCodec.entriesFromAny(
      ManifestCodec.entriesToBytes(entries)) == entries)
  }

  test("reader still accepts legacy v2 (GM2) binary manifests") {
    import graft.core._
    // hand-written GM2 bytes (the exact pre-r19 writer layout, writeUTF
    // strings) — existing chains mix formats and must keep reading
    val bos = new java.io.ByteArrayOutputStream()
    val o = new java.io.DataOutputStream(bos)
    o.write(Array('G', 'M', '2', '\n').map(_.toByte))
    o.writeInt(1)
    o.writeByte(0) // ADD
    o.writeUTF("data/y.parquet"); o.writeLong(7L); o.writeLong(3L)
    o.writeShort(1); o.writeUTF("A")
    o.writeInt(2); o.writeInt(1)
    o.writeLong(5L); o.writeLong(6L); o.writeLong(0L)
    o.writeBoolean(true); o.writeUTF("dv/d.bin"); o.writeLong(2L)
    o.writeShort(1); o.writeUTF("a"); o.writeUTF("idx/b.bin")
    o.writeShort(1); o.writeUTF("a")
    o.writeBoolean(true); o.writeUTF("1"); o.writeBoolean(false)
    o.writeLong(4L)
    o.flush()
    val expect = Seq(ManifestEntry(0, DataFileMeta(
      "data/y.parquet", 7L, 3L, Seq("A"), 2, 1, 5L, 6L, 0L,
      Map("a" -> ColStats(Some("1"), None, 4L)), Some("dv/d.bin"), 2L,
      Map("a" -> "idx/b.bin"))))
    assert(ManifestCodec.entriesFromAny(bos.toByteArray) == expect)
  }

  test("manifest fold shards by partition; shard skipping preserves answers") {
    val li = sf("lineitem").limit(2000).cache()
    val t = GraftTable.create(spark, tmpTable(), li.schema,
      partitionKeys = Seq("l_returnflag"))
    // enough commits to trip the fold threshold (16)
    (0 until 18).foreach(i => t.append(li.filter(col("l_orderkey") % 18 === i)))
    val snap = t.store.latestSnapshot.get
    assert(snap.manifestMeta.nonEmpty)
    val folded = snap.manifestMeta.filter(_.addOnly)
    assert(folded.nonEmpty, "fold should have produced add-only shards")
    assert(folded.forall(m => m.ptMin.isDefined && m.ptMax.isDefined))
    // shard-filtered fold = full fold restricted to matching partitions
    val all = t.store.liveFiles(snap)
    val onlyR = t.store.liveFiles(snap,
      m => graft.core.Pruning.shardMightMatch(
        org.apache.spark.sql.sources.EqualTo("l_returnflag", "R"),
        Seq("l_returnflag"), m.ptMin.get, m.ptMax.get))
    assert(onlyR.map(_.path).toSet.subsetOf(all.map(_.path).toSet))
    assert(onlyR.filter(_.partition == Seq("R")).toSet ==
      all.filter(_.partition == Seq("R")).toSet)
    // end-to-end: pruned read still matches the plain filter
    val exp = li.filter(col("l_returnflag") === "R").count()
    assert(t.toDF.filter(col("l_returnflag") === "R").count() == exp)
  }

  test("append table: write, read back, partition pruning") {
    val li = sf("lineitem")
    val t = GraftTable.create(spark, tmpTable(), li.schema, partitionKeys = Seq("l_returnflag"))
    t.append(li)
    assert(t.toDF.count() == li.count())
    // pruned read matches plain filter
    val exp = li.filter(col("l_returnflag") === "R").count()
    assert(t.toDF.filter(col("l_returnflag") === "R").count() == exp)
    // second append accumulates
    t.append(li.limit(100))
    assert(t.toDF.count() == li.count() + 100)
  }

  test("append table: stats file skipping prunes files") {
    val li = sf("lineitem")
    val t = GraftTable.create(spark, tmpTable(), li.schema)
    // two commits with disjoint l_orderkey ranges -> two files with disjoint stats
    t.append(li.filter(col("l_orderkey") < 1000))
    t.append(li.filter(col("l_orderkey") >= 1000))
    val snap = t.store.latestSnapshot.get
    val files = t.store.liveFiles(snap)
    assert(files.size >= 2)
    val (skipped, listed) = scanFileCounts(t.toDF.filter(col("l_orderkey") < 500))
    assert(skipped >= 1 && listed < files.size, "stats pruning should drop the >=1000 file(s)")
    // and correctness preserved
    assert(t.toDF.filter(col("l_orderkey") < 500).count() ==
      sf("lineitem").filter(col("l_orderkey") < 500).count())
  }

  test("pk table: upsert + dedup merge-on-read (last writer wins)") {
    val orders = sf("orders")
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "4"))
    t.upsert(orders)
    // batch 2: bump totalprice on every 10th order
    val updates = orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    t.upsert(updates)

    val expected = orders.withColumn("o_totalprice",
      when(col("o_orderkey") % 10 === 0, col("o_totalprice") * 2)
        .otherwise(col("o_totalprice")))
    assert(t.toDF.count() == orders.count())
    val diff = t.toDF.select("o_orderkey", "o_totalprice")
      .except(expected.select("o_orderkey", "o_totalprice"))
    assert(diff.count() == 0)
  }

  test("pk table: delete rows via -D kind, point lookup, bucket pruning") {
    val orders = sf("orders")
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "4"))
    t.upsert(orders)
    val dels = orders.filter(col("o_orderkey") % 7 === 0)
    t.upsert(dels, kinds = Some(lit(GraftMeta.KindDelete)))
    val exp = orders.filter(col("o_orderkey") % 7 =!= 0).count()
    assert(t.toDF.count() == exp)
    // lookup of a surviving key
    val k = orders.filter(col("o_orderkey") % 7 =!= 0).select("o_orderkey")
      .head().getLong(0)
    assert(t.lookup(Map("o_orderkey" -> k)).isDefined)
    assert(t.lookup(Map("o_orderkey" -> -1L)).isEmpty)
  }

  test("time travel + incremental read") {
    val orders = sf("orders")
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"))
    t.upsert(orders.limit(500))
    val s1 = t.store.latestSnapshotId.get
    t.upsert(orders.limit(1000))
    assert(t.toDF(s1).count() == 500)
    assert(t.toDF.count() == 1000)
    val inc = t.incremental(s1, s1 + 1)
    assert(inc.count() == 1000) // raw delta rows of commit 2
    assert(inc.columns.contains("_row_kind"))
    t.store.createTag("v1", s1)
    assert(t.toDFAtTag("v1").count() == 500)
    // incremental between tags resolves tag -> snapshot bounds
    t.store.createTag("v2", s1 + 1)
    assert(t.incrementalBetweenTags("v1", "v2").count() == inc.count())
    val viaTvf = spark.sql(
      s"SELECT * FROM graft_incremental_query('${t.location}', 'v1', 'v2')")
    assert(viaTvf.count() == inc.count())
  }

  test("incremental between timestamps resolves commit-time bounds") {
    val orders = sf("orders")
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"))
    t.upsert(orders.limit(200))
    Thread.sleep(5) // distinct commit millis for unambiguous bounds
    val ts1 = t.store.readSnapshot(1).timestampMs
    t.upsert(orders.limit(50).withColumn("o_totalprice", lit(1.0)))
    val ts2 = t.store.readSnapshot(2).timestampMs
    assert(t.incrementalBetweenTimestamps(ts1, ts2).count() == 50)
    assert(t.incrementalBetweenTimestamps(0L, ts1).count() == 200)
    assert(t.incrementalBetweenTimestamps(ts2, ts2 + 1000).isEmpty)
  }

  /** Rows as sorted strings: a multiset compare of two frames. */
  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("format(graft) batch reads equal toDF: append and pk, time travel, read-optimized") {
    val li = sf("lineitem").select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    val a = GraftTable.create(spark, tmpTable(), li.schema, partitionKeys = Seq("l_returnflag"))
    a.append(li.filter(col("l_orderkey") < 2000))
    a.append(li.filter(col("l_orderkey") >= 2000))
    def load(path: String, opts: (String, String)*) =
      spark.read.format("graft").options(opts.toMap).load(path)
    assert(load(a.location).columns.toSeq == a.toDF.columns.toSeq)
    assert(rowsOf(load(a.location)) == rowsOf(a.toDF))
    // a pruning filter reaches the scan and reads the same rows
    val pruned = load(a.location).filter(col("l_returnflag") === "R" && col("l_orderkey") < 500)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("GraftScan") && plan.contains("EqualTo(l_returnflag,R)"), plan)
    assert(rowsOf(pruned) ==
      rowsOf(a.toDF.filter(col("l_returnflag") === "R" && col("l_orderkey") < 500)))
    assert(rowsOf(load(a.location, "scan.snapshot-id" -> "1")) == rowsOf(a.toDF(1L)))

    val orders = sf("orders").select("o_orderkey", "o_custkey", "o_totalprice")
    val pk = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "2", "write-only" -> "true"))
    pk.upsert(orders)
    pk.store.createTag("base", 1L)
    pk.compact()
    pk.upsert(orders.filter(col("o_orderkey") % 7 === 0).withColumn("o_totalprice", lit(1.0)))
    pk.upsert(orders.filter(col("o_orderkey") % 11 === 0),
      kinds = Some(lit(GraftMeta.KindDelete)))
    // merged: updates win, deletes vanish
    assert(rowsOf(load(pk.location)) == rowsOf(pk.toDF))
    assert(load(pk.location).count() < orders.count())
    assert(rowsOf(load(pk.location).filter(col("o_orderkey") === 7)) ==
      rowsOf(pk.toDF.filter(col("o_orderkey") === 7)))
    assert(rowsOf(load(pk.location, "scan.tag-name" -> "base")) == rowsOf(pk.toDFAtTag("base")))
    assert(rowsOf(load(pk.location, "scan.snapshot-id" -> "2")) == rowsOf(pk.toDF(2L)))
    val ro = load(pk.location, "read-optimized" -> "true")
    assert(ro.columns.toSeq == pk.schema.fields.map(_.name))
    assert(rowsOf(ro) == rowsOf(pk.readOptimized))
    assert(ro.count() == orders.count())

    // the same DSv2 relation as toDF: its statistics let the planner
    // broadcast a small table (no size estimate would sort-merge both)
    val join = load(a.location).join(load(pk.location), col("l_orderkey") === col("o_orderkey"))
    val physical = join.queryExecution.sparkPlan.toString
    assert(physical.contains("BroadcastHashJoin") && physical.contains("GraftScan"), physical)
    assert(join.count() == a.toDF.join(pk.toDF, col("l_orderkey") === col("o_orderkey")).count())

    // writes stay on the V1 sink: the first creates the table, the next appends
    val w = tmpTable()
    li.limit(10).write.format("graft").mode("append").save(w)
    li.limit(10).write.format("graft").mode("append").save(w)
    assert(load(w).count() == 20)
  }
}
