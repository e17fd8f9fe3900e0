package graft

import graft.table.GraftTable
import org.apache.spark.sql.functions._

class RowLevelSpec extends SparkSpec {

  test("delete: pk table writes -D rows; append table rewrites files (COW)") {
    val orders = sf("orders")
    // pk
    val pk = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "2"))
    pk.upsert(orders)
    pk.delete(col("o_orderstatus") === "F")
    assert(pk.toDF.count() == orders.filter(col("o_orderstatus") =!= "F").count())
    // append COW
    val ap = GraftTable.create(spark, tmpTable(), orders.schema)
    ap.append(orders)
    ap.delete(col("o_totalprice") > 200000)
    assert(ap.toDF.count() == orders.filter(!(col("o_totalprice") > 200000)).count())
    assert(ap.toDF.filter(col("o_totalprice") > 200000).count() == 0)
  }

  test("delete: partition-only predicate drops files without rewrite") {
    val li = sf("lineitem")
    val t = GraftTable.create(spark, tmpTable(), li.schema, partitionKeys = Seq("l_returnflag"))
    t.append(li)
    val before = t.store.liveFiles(t.store.latestSnapshot.get).map(_.path).toSet
    t.delete(col("l_returnflag") === "A")
    val after = t.store.liveFiles(t.store.latestSnapshot.get)
    assert(after.map(_.path).toSet.subsetOf(before), "no new files should be written")
    assert(t.toDF.count() == li.filter(col("l_returnflag") =!= "A").count())
  }

  test("update: pk +U rows and append COW") {
    val orders = sf("orders")
    val pk = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "2"))
    pk.upsert(orders)
    pk.update(col("o_orderstatus") === "O", Map("o_orderpriority" -> lit("1-URGENT")))
    assert(pk.toDF.filter(col("o_orderstatus") === "O" &&
      col("o_orderpriority") =!= "1-URGENT").count() == 0)
    assert(pk.toDF.count() == orders.count())

    val ap = GraftTable.create(spark, tmpTable(), orders.schema)
    ap.append(orders)
    ap.update(col("o_orderkey") % 2 === 0, Map("o_totalprice" -> lit(0.0)))
    assert(ap.toDF.filter(col("o_orderkey") % 2 === 0 && col("o_totalprice") =!= 0.0).count() == 0)
    assert(ap.toDF.filter(col("o_orderkey") % 2 =!= 0 && col("o_totalprice") === 0.0).count() == 0)
  }

  test("merge into: update + insert + delete clauses") {
    val orders = sf("orders").limit(1000)
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "2"))
    t.upsert(orders)
    // source: half overlapping (keys *2), half new (keys beyond max)
    val source = orders.select(
      (col("o_orderkey") * 2).as("o_orderkey"),
      col("o_custkey"), col("o_orderstatus"),
      lit(999.99).as("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    t.mergeInto(source, col("s.o_orderkey") === col("t.o_orderkey"))
      .whenMatchedUpdate(Map("o_totalprice" -> col("s.o_totalprice")))
      .whenNotMatchedInsertAll()
      .execute()
    val result = t.toDF
    // matched keys got price 999.99
    assert(result.filter(col("o_orderkey") % 2 === 0 && col("o_totalprice") =!= 999.99)
      .count() == 0)
    // count = original + new keys inserted
    val origKeys = orders.select("o_orderkey").distinct().count()
    val srcKeys = source.select("o_orderkey").distinct()
    val newKeys = srcKeys.join(orders.select("o_orderkey"), Seq("o_orderkey"), "left_anti").count()
    assert(result.count() == origKeys + newKeys)
  }

  test("upsert refuses a null primary key; merge and update refuse key changes") {
    val t = GraftTable.create(spark, tmpTable(), spark.sql(
      "SELECT CAST(1 AS BIGINT) AS k, CAST(1 AS BIGINT) AS k2, 'a' AS v").schema,
      primaryKeys = Seq("k"), options = Map("bucket" -> "2"))
    t.upsert(spark.sql("SELECT CAST(id AS BIGINT) AS k, CAST(id + 10 AS BIGINT) AS k2, " +
      "'a' AS v FROM range(1, 3)"))
    def rows = t.toDF.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def messages(e: Throwable): String = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).mkString("\n")
    val before = (rows, t.store.latestSnapshotId)
    val nul = intercept[Exception](t.upsert(spark.sql(
      "SELECT CAST(NULL AS BIGINT) AS k, CAST(3 AS BIGINT) AS k2, 'c' AS v")))
    assert(messages(nul).contains("primary key column k must not be null"), messages(nul))
    val mg = intercept[Exception](
      t.mergeInto(spark.sql("SELECT CAST(1 AS BIGINT) AS k, CAST(101 AS BIGINT) AS k2"),
        col("t.k") === col("s.k"))
        .whenMatchedUpdate(Map("k" -> col("s.k2")))
        .execute())
    assert(messages(mg).contains("cannot update primary key columns"), messages(mg))
    val up = intercept[IllegalArgumentException](t.update(lit(true), Map("k" -> col("k2"))))
    assert(up.getMessage.contains("cannot update primary key columns"), up.getMessage)
    assert((rows, t.store.latestSnapshotId) == before)
  }

  test("merge into: not-matched-by-source delete") {
    val orders = sf("orders").limit(200)
    val t = GraftTable.create(spark, tmpTable(), orders.schema,
      primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "2"))
    t.upsert(orders)
    val source = orders.filter(col("o_orderkey") % 3 === 0)
    t.mergeInto(source, col("s.o_orderkey") === col("t.o_orderkey"))
      .whenMatchedUpdate(Map("o_orderpriority" -> lit("KEPT")))
      .whenNotMatchedBySourceDelete()
      .execute()
    assert(t.toDF.count() == orders.filter(col("o_orderkey") % 3 === 0).count())
    assert(t.toDF.filter(col("o_orderpriority") =!= "KEPT").count() == 0)
  }

  test("dv delete: commits as COMPACT and never re-emits survivors as delta") {
    val li = sf("lineitem").limit(2000)
    val t = GraftTable.create(spark, tmpTable(), li.schema,
      options = Map("deletion-vectors.enabled" -> "true"))
    t.append(li)
    val snapBefore = t.store.latestSnapshotId.get
    t.delete(col("l_quantity") < 25)
    val snapAfter = t.store.latestSnapshotId.get
    assert(t.store.readSnapshot(snapAfter).commitKind == graft.core.CommitKind.COMPACT)
    // the DV rewrite re-ADDs the data file with a bitmap — an incremental
    // (input-producer) read across it must see NO rows, or every surviving
    // row would duplicate downstream
    assert(t.incremental(snapBefore, snapAfter).count() == 0)
    assert(t.toDF.count() == li.filter(!(col("l_quantity") < 25)).count())
  }

  test("cow delete: commits as COMPACT and never re-emits survivors as delta") {
    val li = sf("lineitem").limit(2000)
    // deletion vectors OFF -> copy-on-write rewrite of touched files
    val t = GraftTable.create(spark, tmpTable(), li.schema)
    t.append(li)
    val snapBefore = t.store.latestSnapshotId.get
    t.delete(col("l_quantity") < 25)
    val snapAfter = t.store.latestSnapshotId.get
    assert(t.store.readSnapshot(snapAfter).commitKind == graft.core.CommitKind.COMPACT)
    assert(t.incremental(snapBefore, snapAfter).count() == 0)
    assert(t.toDF.count() == li.filter(!(col("l_quantity") < 25)).count())
  }

  test("overwrite snapshots are skipped by incremental reads by default") {
    val li = sf("lineitem").limit(1000)
    val t = GraftTable.create(spark, tmpTable(), li.schema)
    t.append(li)                                  // snap 1
    val snapBefore = t.store.latestSnapshotId.get
    t.overwrite(li.withColumn("l_comment", lit("ow"))) // snap 2: OVERWRITE
    val snapAfter = t.store.latestSnapshotId.get
    assert(t.incremental(snapBefore, snapAfter).count() == 0)
  }

  test("dv delete + expire cleans dv sidecars; orphan scan covers dv/ and idx/") {
    val li = sf("lineitem").limit(1000)
    val t = GraftTable.create(spark, tmpTable(), li.schema,
      options = Map("deletion-vectors.enabled" -> "true"))
    t.append(li)
    t.delete(col("l_quantity") < 10) // dv #1
    t.delete(col("l_quantity") < 20) // dv #2 supersedes #1
    val fs = t.store.fs
    val dvDir = new org.apache.hadoop.fs.Path(t.store.rootPath, "dv")
    def dvFiles() = fs.listStatus(dvDir).map(_.getPath.getName).toSet
    assert(dvFiles().size == 2)
    t.expireSnapshots(retainLast = 1)
    // only the live snapshot's bitmap survives; the superseded one is gone
    val live = t.store.liveFiles(t.store.latestSnapshot.get)
      .flatMap(_.dvPath).map(_.split('/').last).toSet
    assert(dvFiles() == live)
    assert(t.toDF.count() == li.filter(!(col("l_quantity") < 20)).count())
    // orphan scan: an unreferenced bitmap in dv/ is collected
    val stray = new org.apache.hadoop.fs.Path(dvDir, "dv-stray.bin")
    val out = fs.create(stray, true); out.write(Array[Byte](1, 2, 3)); out.close()
    val deleted = t.removeOrphanFiles(olderThanMs = -1000)
    assert(deleted.exists(_.endsWith("dv-stray.bin")))
    assert(!fs.exists(stray))
  }

  test("overwrite: whole table, static partition, dynamic") {
    val li = sf("lineitem")
    val t = GraftTable.create(spark, tmpTable(), li.schema, partitionKeys = Seq("l_returnflag"))
    t.append(li)
    // static partition overwrite of R with 10 rows
    val repl = li.filter(col("l_returnflag") === "R").limit(10)
    t.overwrite(repl, staticPartition = Map("l_returnflag" -> "R"))
    assert(t.toDF.filter(col("l_returnflag") === "R").count() == 10)
    assert(t.toDF.filter(col("l_returnflag") === "A").count() ==
      li.filter(col("l_returnflag") === "A").count())
    // dynamic overwrite touching only partition A
    val replA = li.filter(col("l_returnflag") === "A").limit(5)
    t.overwrite(replA, dynamic = true)
    assert(t.toDF.filter(col("l_returnflag") === "A").count() == 5)
    assert(t.toDF.filter(col("l_returnflag") === "R").count() == 10)
    // full overwrite
    t.overwrite(li.limit(7))
    assert(t.toDF.count() == 7)
    // truncate
    t.truncate()
    assert(t.toDF.count() == 0)
  }
}
