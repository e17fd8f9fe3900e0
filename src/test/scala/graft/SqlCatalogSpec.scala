package graft

import org.apache.spark.sql.functions._

/** End-to-end SQL through the DSv2 catalog: DDL, DML, merged reads,
  * time travel — a Spark user never touching the Scala API.
  */
class SqlCatalogSpec extends SparkSpec {

  private lazy val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.spark.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    // the session is shared across suites and CatalogManager caches
    // catalog instances by name — drop any 'graft' instance another
    // suite pinned to ITS warehouse, or this suite's path asserts
    // silently inspect the wrong directory (order-dependent flake)
    org.apache.spark.sql.graft.SparkShims.resetCatalogCache(spark)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
  }

  test("append table: create, insert, select with pruning, insert overwrite") {
    spark.sql(
      """CREATE TABLE graft.db.li (
        | l_orderkey BIGINT, l_quantity DOUBLE, l_returnflag STRING)
        |USING graft PARTITIONED BY (l_returnflag)""".stripMargin)
    sf("lineitem").select("l_orderkey", "l_quantity", "l_returnflag")
      .createOrReplaceTempView("src_li")
    spark.sql("INSERT INTO graft.db.li SELECT * FROM src_li")
    val total = spark.sql("SELECT count(*) FROM graft.db.li").collect()(0).getLong(0)
    assert(total == sf("lineitem").count())

    val r = spark.sql(
      "SELECT count(*) FROM graft.db.li WHERE l_returnflag = 'R'").collect()(0).getLong(0)
    assert(r == sf("lineitem").filter(col("l_returnflag") === "R").count())

    // static overwrite of one partition
    spark.sql(
      """INSERT OVERWRITE graft.db.li PARTITION (l_returnflag = 'R')
        |SELECT l_orderkey, 0.0 AS l_quantity FROM src_li WHERE l_returnflag = 'R'""".stripMargin)
    val sumR = spark.sql(
      "SELECT sum(l_quantity) FROM graft.db.li WHERE l_returnflag = 'R'").collect()(0).getDouble(0)
    assert(sumR == 0.0)
    assert(spark.sql("SELECT count(*) FROM graft.db.li").collect()(0).getLong(0) == total)
  }

  test("pk table: upsert via INSERT, merged SELECT without shuffle, DELETE, time travel") {
    spark.sql(
      """CREATE TABLE graft.db.orders (
        | o_orderkey BIGINT, o_status STRING, o_price DOUBLE)
        |USING graft TBLPROPERTIES ('primary-key' = 'o_orderkey', 'bucket' = '4')""".stripMargin)
    sf("orders").select(col("o_orderkey"), col("o_orderstatus").as("o_status"),
      col("o_totalprice").as("o_price")).createOrReplaceTempView("src_orders")
    spark.sql("INSERT INTO graft.db.orders SELECT * FROM src_orders")
    spark.sql(
      """INSERT INTO graft.db.orders
        |SELECT o_orderkey, o_status, o_price * 2 FROM src_orders WHERE o_orderkey % 7 = 0""".stripMargin)

    val merged = spark.sql("SELECT * FROM graft.db.orders")
    // bucket-local merge: the scan itself merges — no Exchange below the scan
    val plan = merged.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"merged scan must not shuffle:\n$plan")

    val exp = sf("orders").count()
    assert(merged.count() == exp)
    val doubled = merged.filter(col("o_orderkey") % 7 === 0)
      .join(sf("orders").filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_totalprice")), "o_orderkey")
      .filter(col("o_price") =!= col("o_totalprice") * 2)
    assert(doubled.count() == 0, "upserted rows must carry doubled prices")

    // point lookup via SQL prunes to one bucket and merges only it
    val one = spark.sql("SELECT o_price FROM graft.db.orders WHERE o_orderkey = 8")
    assert(one.count() == 1)

    // DELETE WHERE
    spark.sql("DELETE FROM graft.db.orders WHERE o_status = 'F'")
    val expAfter = sf("orders").filter(col("o_orderstatus") =!= "F").count()
    assert(spark.sql("SELECT count(*) FROM graft.db.orders").collect()(0).getLong(0) == expAfter)

    // time travel back to snapshot 1 (before the second upsert and delete)
    val v1 = spark.sql("SELECT count(*) FROM graft.db.orders VERSION AS OF 1")
    assert(v1.collect()(0).getLong(0) == exp)
  }

  test("alter table: add/rename columns, old data remaps") {
    spark.sql("CREATE TABLE graft.db.nat (k INT, name STRING) USING graft")
    spark.sql("INSERT INTO graft.db.nat VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE graft.db.nat ADD COLUMN extra STRING")
    spark.sql("ALTER TABLE graft.db.nat RENAME COLUMN name TO label")
    spark.sql("INSERT INTO graft.db.nat VALUES (3, 'c', 'x')")
    val rows = spark.sql("SELECT k, label, extra FROM graft.db.nat ORDER BY k").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("a", "b", "c"))
    assert(rows.map(r => Option(r.getString(2))).toSeq == Seq(None, None, Some("x")))
    spark.sql("DROP TABLE graft.db.nat")
    assert(spark.sql("SHOW TABLES IN graft.db").collect()
      .forall(_.getString(1) != "nat"))
  }

  test("multi-change ALTER is atomic: one schema version; failure alters nothing") {
    spark.sql("CREATE TABLE graft.db.atomic_alter (k INT, a STRING) USING graft")
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    def schemaId = graft.table.GraftTable.load(spark, s"$wh/db/atomic_alter").schema.id
    val before = schemaId
    // two changes in one statement -> exactly ONE new schema version
    spark.sql("ALTER TABLE graft.db.atomic_alter ADD COLUMNS (b INT, c STRING)")
    assert(schemaId == before + 1, "batch of adds = one schema commit")
    // a batch whose SECOND change fails must not apply its first change
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.atomic_alter ADD COLUMNS (d INT, b STRING)")
    } // b already exists
    assert(schemaId == before + 1, "failed batch committed nothing")
    assert(!spark.table("graft.db.atomic_alter").columns.contains("d"),
      "first change of the failed batch must not leak")
    spark.sql("DROP TABLE graft.db.atomic_alter")
  }

  test("CALL procedures: compact, tags, branches, rollback through SQL") {
    spark.sql(
      """CREATE TABLE graft.db.proc_t (k BIGINT, v STRING) USING graft
        |TBLPROPERTIES ('primary-key' = 'k', 'bucket' = '2')""".stripMargin)
    spark.sql("INSERT INTO graft.db.proc_t VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft.db.proc_t VALUES (2, 'b2'), (3, 'c')")

    val r1 = spark.sql("CALL graft.sys.create_tag('db.proc_t', 'v1', 1)").collect()
    assert(r1.head.getString(0).contains("v1"))
    val r2 = spark.sql("CALL graft.sys.compact('db.proc_t')").collect()
    assert(r2.head.getString(0).contains("compacted"))
    assert(spark.sql("SELECT count(*) FROM graft.db.proc_t").collect()(0).getLong(0) == 3)

    spark.sql("CALL graft.sys.create_branch('db.proc_t', 'dev', 1)")
    // branch read through SQL: the branch head is snapshot 1 (2 rows) even
    // though main has moved on
    assert(spark.sql("SELECT count(*) FROM graft.db.proc_t VERSION AS OF 'dev'")
      .collect()(0).getLong(0) == 2)
    spark.sql("CALL graft.sys.rollback('db.proc_t', 1)")
    assert(spark.sql("SELECT count(*) FROM graft.db.proc_t").collect()(0).getLong(0) == 2)
    val r3 = spark.sql("CALL graft.sys.expire_snapshots('db.proc_t', 1)").collect()
    assert(r3.head.getString(0).contains("expired"))

    // mark_partition_done with an explicit partition spec
    spark.sql(
      """CREATE TABLE graft.db.proc_pt (k BIGINT, flag STRING) USING graft
        |PARTITIONED BY (flag)""".stripMargin)
    spark.sql("INSERT INTO graft.db.proc_pt VALUES (1, 'a'), (2, 'b')")
    val r4 = spark.sql(
      "CALL graft.sys.mark_partition_done('db.proc_pt', 'flag=a')").collect()
    assert(r4.head.getString(0).contains("marked 1 partitions done"))
    val wh2 = spark.conf.get("spark.sql.catalog.graft.warehouse")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$wh2/db/proc_pt/data/flag=a/_SUCCESS")))
  }

  test("compacted-full scan mode and reset_consumer procedure") {
    spark.sql(
      """CREATE TABLE graft.db.cfull_t (k BIGINT, v STRING) USING graft
        |TBLPROPERTIES ('primary-key' = 'k', 'bucket' = '2')""".stripMargin)
    spark.sql("INSERT INTO graft.db.cfull_t VALUES (1, 'a'), (2, 'b')")
    spark.sql("CALL graft.sys.compact('db.cfull_t')")
    spark.sql("INSERT INTO graft.db.cfull_t VALUES (2, 'b2'), (3, 'c')")

    // latest content sees the post-compaction upsert...
    assert(spark.table("graft.db.cfull_t").count() == 3)
    // ...compacted-full pins to the last compaction snapshot
    val cf = spark.read.option("scan.mode", "compacted-full")
      .table("graft.db.cfull_t")
    assert(cf.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b")))

    // consumer lifecycle via procedure
    val t = graft.table.GraftTable.load(spark, s"$wh/db/cfull_t")
    t.store.writeConsumer("app1", 2L)
    assert(t.store.listConsumers == Seq(("app1", 2L)))
    spark.sql("CALL graft.sys.reset_consumer('db.cfull_t', 'app1', 5)")
    assert(t.store.readConsumer("app1").contains(5L))
    spark.sql("CALL graft.sys.reset_consumer('db.cfull_t', 'app1')")
    assert(t.store.listConsumers.isEmpty)
  }

  test("SQL UPDATE and MERGE INTO route through row-level ops") {
    spark.sql(
      """CREATE TABLE graft.db.rls (
        | k BIGINT, status STRING, price DOUBLE)
        |USING graft TBLPROPERTIES ('primary-key' = 'k', 'bucket' = '2')""".stripMargin)
    spark.sql("INSERT INTO graft.db.rls VALUES (1, 'O', 10.0), (2, 'F', 20.0), (3, 'O', 30.0)")

    spark.sql("UPDATE graft.db.rls SET price = price + 5.0 WHERE status = 'O'")
    val afterUpdate = spark.sql("SELECT k, price FROM graft.db.rls ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(afterUpdate == Seq((1L, 15.0), (2L, 20.0), (3L, 35.0)))

    spark.sql("SELECT * FROM VALUES (2, 'X', 0.0), (9, 'N', 90.0) AS v(k, status, price)")
      .createOrReplaceTempView("rls_src")
    spark.sql(
      """MERGE INTO graft.db.rls t USING rls_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET status = s.status, price = s.price
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val afterMerge = spark.sql("SELECT k, status, price FROM graft.db.rls ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(afterMerge == Seq((1L, "O", 15.0), (2L, "X", 0.0), (3L, "O", 35.0), (9L, "N", 90.0)))

    // MERGE with delete clauses
    spark.sql("SELECT * FROM VALUES (1, 'D', 0.0) AS v(k, status, price)")
      .createOrReplaceTempView("rls_del")
    spark.sql(
      """MERGE INTO graft.db.rls t USING rls_del s ON t.k = s.k
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM graft.db.rls WHERE k = 1")
      .collect()(0).getLong(0) == 0)

    // SQL UPDATE on an append (non-pk) table takes the COW path
    spark.sql("CREATE TABLE graft.db.rls_append (k BIGINT, v DOUBLE) USING graft")
    spark.sql("INSERT INTO graft.db.rls_append VALUES (1, 1.0), (2, 2.0)")
    spark.sql("UPDATE graft.db.rls_append SET v = 0.0 WHERE k = 2")
    val app = spark.sql("SELECT k, v FROM graft.db.rls_append ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(app == Seq((1L, 1.0), (2L, 0.0)))
  }

  test("key-changing UPDATE/MERGE fail and change nothing; a null key is refused") {
    spark.sql(
      """CREATE TABLE graft.db.pk_guard (k BIGINT, k2 BIGINT, v STRING)
        |USING graft TBLPROPERTIES ('primary-key' = 'k', 'bucket' = '2')""".stripMargin)
    spark.sql("INSERT INTO graft.db.pk_guard VALUES (1, 11, 'a'), (2, 12, 'b')")
    def rows = spark.sql("SELECT k, k2, v FROM graft.db.pk_guard ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    def messages(e: Throwable): String = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).mkString("\n")
    val before = rows
    val up = intercept[Exception](spark.sql("UPDATE graft.db.pk_guard SET k = k + 100"))
    assert(messages(up).contains("cannot update primary key columns"), messages(up))
    assert(rows == before)
    spark.sql("SELECT CAST(1 AS BIGINT) AS k, CAST(101 AS BIGINT) AS k2")
      .createOrReplaceTempView("pk_guard_src")
    val mg = intercept[Exception](spark.sql(
      """MERGE INTO graft.db.pk_guard t USING pk_guard_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.k = s.k2""".stripMargin))
    assert(messages(mg).contains("cannot update primary key columns"), messages(mg))
    assert(rows == before)
    // UPDATE SET * under ON t.k = s.k assigns the key its own value
    spark.sql("SELECT CAST(1 AS BIGINT) AS k, CAST(21 AS BIGINT) AS k2, 'z' AS v")
      .createOrReplaceTempView("pk_guard_star")
    spark.sql(
      """MERGE INTO graft.db.pk_guard t USING pk_guard_star s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(rows == Seq((1L, 21L, "z"), (2L, 12L, "b")))
    val ins = intercept[Exception](spark.sql(
      "INSERT INTO graft.db.pk_guard VALUES (CAST(NULL AS BIGINT), 13, 'c')"))
    assert(messages(ins).toLowerCase.contains("null"), messages(ins))
    assert(rows == Seq((1L, 21L, "z"), (2L, 12L, "b")))
  }

  test("MERGE INTO ... WITH SCHEMA EVOLUTION adds source columns mid-merge") {
    spark.sql(
      """CREATE TABLE graft.db.mse (k BIGINT, v STRING)
        |USING graft TBLPROPERTIES ('primary-key' = 'k', 'bucket' = '2')""".stripMargin)
    spark.sql("INSERT INTO graft.db.mse VALUES (1, 'a'), (2, 'b')")

    // source carries an extra top-level column AND a nested struct the
    // target lacks — the analyzer must evolve the table through
    // GraftCatalog.alterTable before the merge binds
    spark.sql(
      """SELECT * FROM VALUES
        |  (CAST(2 AS BIGINT), 'B', 'b@x.io', named_struct('city', 'ber', 'zip', 10)),
        |  (CAST(3 AS BIGINT), 'C', 'c@x.io', named_struct('city', 'par', 'zip', 75))
        |  AS v(k, v, email, addr)""".stripMargin)
      .createOrReplaceTempView("mse_src")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft.db.mse t
        |USING mse_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    val out = spark.sql(
      "SELECT k, v, email, addr.city, addr.zip FROM graft.db.mse ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)).getOrElse("-"),
        Option(r.getString(3)).getOrElse("-"),
        if (r.isNullAt(4)) -1 else r.getInt(4))).toSeq
    // pre-existing row 1 reads NULL for the evolved columns; 2 updated in
    // place with the new columns; 3 inserted with them
    assert(out == Seq(
      (1L, "a", "-", "-", -1),
      (2L, "B", "b@x.io", "ber", 10),
      (3L, "C", "c@x.io", "par", 75)), out.toString)

    // the evolution is a real schema commit: plain INSERT now takes 4 cols
    spark.sql("INSERT INTO graft.db.mse VALUES " +
      "(4, 'd', 'd@x.io', named_struct('city', 'rom', 'zip', 1))")
    assert(spark.sql("SELECT count(*) FROM graft.db.mse WHERE addr.zip = 1")
      .collect()(0).getLong(0) == 1)
  }

  test("runtime filtering: a join-driven partition filter re-prunes the scan") {
    val li = sf("lineitem")
    val t = graft.table.GraftTable.create(spark, tmpTable(), li.schema,
      partitionKeys = Seq("l_returnflag"))
    t.append(li)
    val scan = new graft.spark.v2.GraftScan(spark, t, None, t.schema.structType, Nil, None)
    assert(scan.filterAttributes().map(_.describe()).toSeq == Seq("l_returnflag"))
    val all = scan.planInputPartitions().length
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("l_returnflag", "R")))
    val pruned = scan.planInputPartitions().length
    assert(pruned < all, s"runtime filter must drop partitions ($pruned vs $all)")
    // non-partition runtime filters are ignored (no correctness impact)
    val scan2 = new graft.spark.v2.GraftScan(spark, t, None, t.schema.structType, Nil, None)
    scan2.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("l_quantity", 1.0)))
    assert(scan2.planInputPartitions().length == all)
  }

  test("runtime filtering: a join on one of two partition keys after the other was pruned") {
    import spark.implicits._
    spark.sql(
      """CREATE TABLE graft.db.dpp2 (id BIGINT, a STRING, b STRING, v DOUBLE)
        |USING graft PARTITIONED BY (a, b)""".stripMargin)
    spark.sql("INSERT INTO graft.db.dpp2 SELECT id, CAST(id % 4 AS STRING), " +
      "CAST(id % 3 AS STRING), id * 1.5 FROM range(120)")
    Seq(("1", "x"), ("2", "y")).toDF("a", "tag").createOrReplaceTempView("dpp2_dim")
    // the scan keeps only (id, a): Spark resolves the declared runtime
    // filter attributes against that output
    val q = spark.sql(
      """SELECT f.id, f.a FROM graft.db.dpp2 f JOIN dpp2_dim d ON f.a = d.a
        |WHERE d.tag = 'x'""".stripMargin)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == (0L until 120L).filter(_ % 4 == 1))
    val t = graft.table.GraftTable.load(spark, s"$wh/db/dpp2")
    val narrow = new graft.spark.v2.GraftScan(spark, t, None,
      org.apache.spark.sql.types.StructType(Seq(t.schema.structType("id"), t.schema.structType("a"))),
      Nil, None)
    assert(narrow.filterAttributes().map(_.describe()).toSeq == Seq("a"))
  }

  test("pipeline primitives reach SQL-only users through injected functions") {
    import spark.implicits._
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "the quick brown fox jumps over the lazy cat"),
        (3L, "completely different words entirely here now"))
      .toDF("doc_id", "text").createOrReplaceTempView("fn_docs")

    // exact jaccard over shingle hashes — near-dup docs 1,2 qualify, 3 not
    val pairs = spark.sql(
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(graft_jaccard(graft_shingle_hashes(a.text),
        |                      graft_shingle_hashes(b.text)), 6) AS j
        |FROM fn_docs a JOIN fn_docs b ON a.doc_id < b.doc_id
        |WHERE graft_jaccard(graft_shingle_hashes(a.text),
        |                    graft_shingle_hashes(b.text)) >= 0.5""".stripMargin).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)), pairs.mkString(";"))

    // signature + sketch functions agree with the Scala-API expressions
    val viaSql = spark.sql(
      """SELECT doc_id, graft_minhash_sig(text, 16) AS sig, graft_simhash(text) AS sk
        |FROM fn_docs""".stripMargin)
    val viaApi = spark.table("fn_docs").select(col("doc_id"),
      graft.pipeline.Dedup.minhashSignature(
        graft.pipeline.Dedup.shingles(col("text")), 16).as("sig"),
      graft.pipeline.Dedup.simhashFromHashes(
        graft.pipeline.Dedup.tokenHashes(col("text"))).as("sk"))
    assert(viaSql.exceptAll(viaApi).count() == 0 && viaApi.exceptAll(viaSql).count() == 0)

    // hamming of identical sketches is 0; cosine of a vector with itself 1
    val h = spark.sql(
      "SELECT graft_hamming(graft_simhash('a b c'), graft_simhash('a b c')) AS h, " +
        "ROUND(graft_cosine(ARRAY(1.0D, 2.0D), ARRAY(1.0D, 2.0D)), 6) AS c").collect()(0)
    assert(h.getInt(0) == 0 && h.getDouble(1) == 1.0)

    // context chunking: SQL fn equals the Scala API (and validates args)
    val sqlChunks = spark.sql(
      """SELECT doc_id, posexplode(graft_chunks(text, 4, 1))
        |FROM fn_docs""".stripMargin).toDF("doc_id", "chunk_idx", "chunk_text")
    val apiChunks = graft.pipeline.TextOps.chunkTokens(
      spark.table("fn_docs"), "doc_id", "text", size = 4, overlap = 1)
      .drop("n_tokens")
    assert(sqlChunks.exceptAll(apiChunks).count() == 0 &&
      apiChunks.exceptAll(sqlChunks).count() == 0)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_chunks(text, n_ish, 1) FROM " +
        "(SELECT 'a b' AS text, 4 AS n_ish)").collect()
    }
    assert(e.getMessage.contains("integer literal"), e.getMessage)

    // WordPiece over a literal vocab: SQL fn equals the Scala API,
    // including the whole-word UNK on a dead end and a custom unk token
    val vocab = Seq("the", "qu", "fox", "dog", "##ick", "##s", "a", "b", "##c")
    val vocabSql = vocab.map(p => s"'$p'").mkString("ARRAY(", ", ", ")")
    val wpSql = spark.sql(
      s"""SELECT doc_id, graft_wordpiece(text, $vocabSql) AS toks
         |FROM fn_docs""".stripMargin)
    val wpApi = spark.table("fn_docs").select(col("doc_id"),
      graft.pipeline.TextOps.wordpieceTokens(col("text"), vocab).as("toks"))
    assert(wpSql.exceptAll(wpApi).count() == 0 &&
      wpApi.exceptAll(wpSql).count() == 0)
    // "theicks" = the + ##ick + ##s (greedy continuations); "thequick"
    // dead-ends after "the" ("qu" is initial-only) -> whole-word unk
    val wpUnk = spark.sql(
      s"SELECT graft_wordpiece('theicks thequick', $vocabSql, '<unk>') AS t")
      .collect()(0).getSeq[String](0)
    assert(wpUnk == Seq("the", "##ick", "##s", "<unk>"), wpUnk.toString)
    val ev = intercept[Exception] {
      spark.sql("SELECT graft_wordpiece(text, ARRAY(text)) FROM fn_docs")
        .collect()
    }
    assert(ev.getMessage.contains("literal"), ev.getMessage)
  }

  test("metadata columns: __file_path on raw scans, __bucket on merged reads") {
    spark.sql("CREATE TABLE graft.db.meta_t (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO graft.db.meta_t VALUES (1, 'a')")
    spark.sql("INSERT INTO graft.db.meta_t VALUES (2, 'b')")
    val paths = spark.sql("SELECT k, __file_path FROM graft.db.meta_t")
      .collect().map(_.getString(1))
    assert(paths.distinct.length == 2, "two commits → two distinct file paths")
    assert(paths.forall(_.endsWith(".parquet")))

    spark.sql(
      """CREATE TABLE graft.db.meta_pk (k BIGINT, v STRING) USING graft
        |TBLPROPERTIES ('primary-key' = 'k', 'bucket' = '4')""".stripMargin)
    spark.sql("INSERT INTO graft.db.meta_pk VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val buckets = spark.sql("SELECT k, __bucket FROM graft.db.meta_pk").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(buckets.size == 3 && buckets.values.forall(b => b >= 0 && b < 4))

    // __row_index: per-file position, dense per file, filter-safe (pushdown
    // is disabled so the position reflects the FILE, not the filtered view)
    // one input partition → one file holding rows (3, 4, 5) in order
    import spark.implicits._
    Seq((3L, "c"), (4L, "d"), (5L, "e")).toDF("k", "v").coalesce(1)
      .createOrReplaceTempView("meta_t_batch")
    spark.sql("INSERT INTO graft.db.meta_t SELECT * FROM meta_t_batch")
    val idx = spark.sql(
      "SELECT __file_path, __row_index, k FROM graft.db.meta_t").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).sorted.toSeq).toMap
    assert(idx.values.forall(is => is == (0L until is.length)),
      s"row indexes must be dense per file: $idx")
    val filtered = spark.sql(
      "SELECT __row_index FROM graft.db.meta_t WHERE k = 5").collect().map(_.getLong(0))
    assert(filtered.toSeq == Seq(2L), s"k=5 is the third row of its file: ${filtered.toSeq}")
  }

  test("incremental query TVF returns the changelog of a snapshot range") {
    import spark.implicits._
    val path = tmpTable()
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val t = graft.table.GraftTable.create(spark, path, df.schema, primaryKeys = Seq("k"))
    t.upsert(df)
    t.upsert(Seq((3L, "c")).toDF("k", "v"))
    val rows = spark.sql(
      s"SELECT _row_kind, k, v FROM graft_incremental_query('$path', 1, 2)").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq(("+I", 3L, "c")))
  }

  test("CALL migrate_table adopts a parquet directory") {
    import spark.implicits._
    val srcDir = tmpTable() + "-mig-src"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(srcDir)
    val target = tmpTable() + "-mig"
    val r = spark.sql(s"CALL graft.sys.migrate_table('$srcDir', '$target')").collect()
    assert(r.head.getString(0).contains("migrated"))
    assert(graft.table.GraftTable.load(spark, target).toDF.count() == 2)

    // migrate_file adopts MORE files into the existing table in place
    val srcDir2 = tmpTable() + "-mig-src2"
    Seq((3L, "c")).toDF("k", "v").write.parquet(srcDir2)
    val r2 = spark.sql(s"CALL graft.sys.migrate_file('$srcDir2', '$target')").collect()
    assert(r2.head.getString(0).contains("3 rows"), r2.head.getString(0))
    val t = graft.table.GraftTable.load(spark, target)
    assert(t.toDF.orderBy("k").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("CALL repair verifies live files and flags a missing one") {
    spark.sql(
      """CREATE TABLE graft.db.rep_t (k BIGINT, v STRING) USING graft
        |TBLPROPERTIES ('primary-key' = 'k')""".stripMargin)
    spark.sql("INSERT INTO graft.db.rep_t VALUES (1, 'a'), (2, 'b')")
    val ok = spark.sql("CALL graft.sys.repair('db.rep_t')").collect()
    assert(ok.head.getString(0).contains("ok:"), ok.head.getString(0))
    // sabotage: remove a live data file behind the table's back
    val t = graft.table.GraftTable.load(spark, s"$wh/db/rep_t")
    val victim = t.store.liveFiles(t.store.latestSnapshot.get).head
    t.store.fs.delete(new org.apache.hadoop.fs.Path(t.store.rootPath, victim.path), false)
    val ex = intercept[Exception] {
      spark.sql("CALL graft.sys.repair('db.rep_t')").collect()
    }
    def msgs(e: Throwable): String =
      if (e == null) "" else e.getMessage + " | " + msgs(e.getCause)
    assert(msgs(ex).contains("MISSING"), msgs(ex))
  }

  test("system tables through SQL: graft_system TVF") {
    import spark.implicits._
    val path = tmpTable()
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val t = graft.table.GraftTable.create(spark, path, df.schema, primaryKeys = Seq("k"))
    t.upsert(df)
    t.upsert(Seq((3L, "c")).toDF("k", "v"))
    val snaps = spark.sql(
      s"SELECT snapshot_id, commit_kind FROM graft_system('$path', 'snapshots')").collect()
    assert(snaps.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "APPEND"), (2L, "APPEND")))
    val files = spark.sql(
      s"SELECT count(*) FROM graft_system('$path', 'files')").collect()(0).getLong(0)
    assert(files >= 2)
    val al = spark.sql(
      s"SELECT _row_kind, k FROM graft_system('$path', 'audit_log') ORDER BY k").collect()
    assert(al.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("+I", 1L), ("+I", 2L), ("+I", 3L)))
  }

  test("merge engines through SQL: aggregation table") {
    spark.sql(
      """CREATE TABLE graft.db.uagg (user_id BIGINT, total DOUBLE, n BIGINT)
        |USING graft TBLPROPERTIES (
        | 'primary-key' = 'user_id', 'merge-engine' = 'aggregation',
        | 'fields.total.aggregate-function' = 'sum',
        | 'fields.n.aggregate-function' = 'sum', 'bucket' = '2')""".stripMargin)
    val events = Fixtures.src(spark, "/root/testdata/sf0.001", "events")
    events.select(col("user_id"), col("value").as("total"), lit(1L).as("n"))
      .createOrReplaceTempView("src_events")
    spark.sql("INSERT INTO graft.db.uagg SELECT * FROM src_events")
    val got = spark.sql("SELECT user_id, n FROM graft.db.uagg")
    val exp = events.groupBy("user_id").count()
    assert(got.join(exp, "user_id").filter(col("n") =!= col("count")).count() == 0)
    assert(got.count() == exp.count())
  }

  test("aggregation engine: nested_update and ignore-retract (both merge paths)") {
    spark.sql(
      """CREATE TABLE graft.db.nagg (
        | k BIGINT, s BIGINT, si BIGINT, recent ARRAY<STRUCT<eid: BIGINT, v: STRING>>)
        |USING graft TBLPROPERTIES (
        | 'primary-key' = 'k', 'merge-engine' = 'aggregation', 'bucket' = '1',
        | 'fields.s.aggregate-function' = 'sum',
        | 'fields.si.aggregate-function' = 'sum',
        | 'fields.si.ignore-retract' = 'true',
        | 'fields.recent.aggregate-function' = 'nested_update',
        | 'fields.recent.nested-key' = 'eid')""".stripMargin)
    val t = graft.table.GraftTable.load(spark,
      s"$wh/db/nagg")
    import spark.implicits._
    def batch(s: Long, eid: Long, v: String) =
      Seq((1L, s, s, Seq((eid, v)))).toDF("k", "s", "si", "recent")
        .withColumn("recent", col("recent").cast("array<struct<eid: bigint, v: string>>"))
    t.upsert(batch(10, 1, "a"))
    t.upsert(batch(10, 1, "a2"), kinds = Some(lit(GraftMeta.KindUpdateBefore)))
    t.upsert(batch(7, 2, "b"))
    def render(df: org.apache.spark.sql.DataFrame) = df.select(col("k"), col("s"), col("si"),
        array_join(transform(col("recent"),
          x => concat(x("eid").cast("string"), lit(":"), x("v"))), ",").as("r"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    // DF merge path
    val viaDf = render(t.toDF)
    // executor (k-way merge) path via the catalog scan
    val viaSql = render(spark.sql("SELECT * FROM graft.db.nagg"))
    // sum retracts: 10 - 10 + 7; ignore-retract skips the -U row: 10 + 7;
    // nested upsert: eid 1 re-appended by the -U row's value, then eid 2
    val expected = Seq((1L, 7L, 17L, "1:a2,2:b"))
    assert(viaDf == expected, s"df path: $viaDf")
    assert(viaSql == expected, s"sql path: $viaSql")
  }

  test("ANALYZE column stats flip a selective-filter join side to broadcast under CBO") {
    spark.sql(
      """CREATE TABLE graft.db.cbo_t (o_orderkey BIGINT, o_custkey BIGINT,
        | o_orderpriority STRING)
        |USING graft""".stripMargin)
    sf("orders").select("o_orderkey", "o_custkey", "o_orderpriority")
      .createOrReplaceTempView("src_cbo")
    spark.sql("INSERT INTO graft.db.cbo_t SELECT * FROM src_cbo")
    val tableBytes = graft.table.GraftTable
      .load(spark, s"$wh/db/cbo_t").store.liveFiles(
        graft.table.GraftTable.load(spark, s"$wh/db/cbo_t").store.latestSnapshot.get)
      .map(_.size).sum
    val saved = Seq("spark.sql.cbo.enabled", "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // threshold below the full table size: only a stats-shrunk side broadcasts
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (tableBytes / 2).toString)
      val q =
        """SELECT a.o_orderkey, b.o_orderpriority
          |FROM graft.db.cbo_t a JOIN graft.db.cbo_t b ON a.o_custkey = b.o_custkey
          |WHERE b.o_orderkey = 42""".stripMargin
      def joins(plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
        plan.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => "broadcast"
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => "sortmerge"
        }
      val before = joins(spark.sql(q).queryExecution.executedPlan)
      assert(before == Seq("sortmerge"),
        s"without column stats the filtered side must not be broadcast: $before")
      spark.sql("CALL graft.sys.analyze('db.cbo_t')")
      val after = joins(spark.sql(q).queryExecution.executedPlan)
      assert(after == Seq("broadcast"),
        s"NDV-based selectivity must shrink b below the broadcast threshold: $after")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("aggregate pushdown: COUNT/MIN/MAX answered from manifests, no file read") {
    spark.sql(
      """CREATE TABLE graft.db.aggpush (k BIGINT, qty DOUBLE, flag STRING)
        |USING graft PARTITIONED BY (flag)
        |TBLPROPERTIES ('deletion-vectors.enabled' = 'true')""".stripMargin)
    val src = sf("lineitem").select(col("l_orderkey").as("k"),
      col("l_quantity").as("qty"), col("l_returnflag").as("flag"))
    src.createOrReplaceTempView("src_aggpush")
    spark.sql("INSERT INTO graft.db.aggpush SELECT * FROM src_aggpush")

    def isLocal(df: org.apache.spark.sql.DataFrame): Boolean = {
      val p = df.queryExecution.executedPlan.toString
      p.contains("LocalTableScan") && !p.contains("BatchScan")
    }

    // global: one metadata row, zero files read
    val g = spark.sql("SELECT count(*), count(qty), min(qty), max(k) FROM graft.db.aggpush")
    assert(isLocal(g), s"global agg must become LocalTableScan:\n${g.queryExecution.executedPlan}")
    val gr = g.collect()(0)
    assert(gr.getLong(0) == src.count())
    assert(gr.getLong(1) == src.filter(col("qty").isNotNull).count())
    assert(gr.getDouble(2) == src.agg(min("qty")).collect()(0).getDouble(0))
    assert(gr.getLong(3) == src.agg(max("k")).collect()(0).getLong(0))

    // grouped by the partition column, with an exact partition filter
    val grp = spark.sql(
      """SELECT flag, count(*) AS c, max(qty) AS m FROM graft.db.aggpush
        |WHERE flag IN ('R','A') GROUP BY flag""".stripMargin)
    assert(isLocal(grp), s"partition-grouped agg must be metadata-only:\n${grp.queryExecution.executedPlan}")
    val expected = src.filter(col("flag").isin("R", "A")).groupBy("flag")
      .agg(count(lit(1)).as("c"), max("qty").as("m"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(grp.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet == expected)

    // value-column filter cannot be answered from metadata → real scan, still correct
    val f = spark.sql("SELECT count(*) FROM graft.db.aggpush WHERE qty > 25")
    assert(!isLocal(f), "non-partition filter must fall back to a scan")
    assert(f.collect()(0).getLong(0) == src.filter(col("qty") > 25).count())

    // min/max over strings must NOT push (truncated stats); count(*) still does
    val s = spark.sql("SELECT min(flag) FROM graft.db.aggpush")
    assert(!isLocal(s), "string min/max must not be served from truncated stats")

    // row-level DELETE writes a deletion vector: count(*) stays metadata-exact,
    // min/max falls back to scanning
    spark.sql("DELETE FROM graft.db.aggpush WHERE k = 1 AND qty > 0")
    val afterDel = spark.sql("SELECT count(*) FROM graft.db.aggpush")
    val expectedDel = src.filter(!(col("k") === 1 && col("qty") > 0)).count()
    assert(afterDel.collect()(0).getLong(0) == expectedDel)
    val mm = spark.sql("SELECT min(qty) FROM graft.db.aggpush")
    assert(!isLocal(mm), "deletion vectors invalidate metadata min/max")
    assert(mm.collect()(0).getDouble(0) ==
      src.filter(!(col("k") === 1 && col("qty") > 0))
        .agg(min("qty")).collect()(0).getDouble(0))

    // PK tables merge on read — never push
    spark.sql(
      """CREATE TABLE graft.db.aggpush_pk (k BIGINT, qty DOUBLE)
        |USING graft TBLPROPERTIES ('primary-key' = 'k', 'bucket' = '2')""".stripMargin)
    spark.sql("INSERT INTO graft.db.aggpush_pk VALUES (1, 1.0), (2, 2.0), (1, 3.0)")
    val pk = spark.sql("SELECT count(*) FROM graft.db.aggpush_pk")
    assert(!isLocal(pk), "PK tables must not serve metadata counts")
    assert(pk.collect()(0).getLong(0) == 2L)
  }

  test("storage-partitioned join: same-bucket pk tables join with no shuffle and no sort") {
    for (t <- Seq("spj_a", "spj_b")) {
      spark.sql(
        s"""CREATE TABLE graft.db.$t (o_orderkey BIGINT, v DOUBLE)
           |USING graft TBLPROPERTIES ('primary-key' = 'o_orderkey', 'bucket' = '4')""".stripMargin)
      sf("orders").select(col("o_orderkey"), col("o_totalprice").as("v"))
        .createOrReplaceTempView(s"src_$t")
      spark.sql(s"INSERT INTO graft.db.$t SELECT * FROM src_$t")
    }
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")

      val q =
        """SELECT a.o_orderkey, a.v, b.v FROM graft.db.spj_a a
          |JOIN graft.db.spj_b b ON a.o_orderkey = b.o_orderkey""".stripMargin

      // baseline: without v2 bucketing the join shuffles both sides
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val before = spark.sql(q).queryExecution.executedPlan.toString
      assert(before.contains("Exchange"), s"baseline should shuffle:\n$before")

      // with v2 bucketing: KeyGroupedPartitioning on bucket(4, pk) on both
      // sides + reported pk ordering → no Exchange, no Sort anywhere
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val df = spark.sql(q)
      val exec = df.queryExecution.executedPlan
      val plan = exec.toString
      assert(!plan.contains("Exchange"), s"storage-partitioned join must not shuffle:\n$plan")
      val sorts = exec.collect { case s: org.apache.spark.sql.execution.SortExec => s }
      assert(sorts.isEmpty, s"reported pk ordering must elide join sorts:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")

      val expected = sf("orders").count()
      assert(df.count() == expected, "join must still produce one row per key")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("IN-list point lookups prune to the listed keys' buckets") {
    spark.sql(
      """CREATE TABLE graft.db.inprune (k BIGINT, v DOUBLE)
        |USING graft TBLPROPERTIES ('primary-key' = 'k', 'bucket' = '16')""".stripMargin)
    sf("orders").select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      .createOrReplaceTempView("src_inprune")
    spark.sql("INSERT INTO graft.db.inprune SELECT * FROM src_inprune")

    def scannedParts(sql: String): Int =
      spark.sql(sql).queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.sum

    val all = scannedParts("SELECT * FROM graft.db.inprune")
    assert(all >= 16, s"16 buckets expected, scanned $all")
    val two = scannedParts("SELECT * FROM graft.db.inprune WHERE k IN (42, 43, 44)")
    assert(two <= 3, s"IN-list lookup must touch at most 3 buckets, scanned $two")
    val rows = spark.sql("SELECT * FROM graft.db.inprune WHERE k IN (42, 43, 44)")
      .collect().map(_.getLong(0)).sorted
    assert(rows.sameElements(Array(42L, 43L, 44L)))
  }

  test("bucket function matches the write path: foreign side shuffled by graft.bucket") {
    // spark.sql.sources.v2.bucketing.shuffle.enabled routes the NON-graft
    // side through GraftBucketBound.produceResult; rows land on the wrong
    // stored bucket (silent row loss in the join) unless the function is
    // bit-identical to the writer's pmod(hash(pk), n)
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.shuffle.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.sql(
        """CREATE TABLE IF NOT EXISTS graft.db.spj_c (o_orderkey BIGINT, v DOUBLE)
          |USING graft TBLPROPERTIES ('primary-key' = 'o_orderkey', 'bucket' = '4')""".stripMargin)
      sf("orders").select(col("o_orderkey"), col("o_totalprice").as("v"))
        .createOrReplaceTempView("src_spj_c")
      spark.sql("INSERT INTO graft.db.spj_c SELECT * FROM src_spj_c")
      sf("orders").select(col("o_orderkey"), col("o_custkey"))
        .createOrReplaceTempView("spj_foreign")
      val df = spark.sql(
        """SELECT a.o_orderkey, a.v, f.o_custkey FROM graft.db.spj_c a
          |JOIN spj_foreign f ON a.o_orderkey = f.o_orderkey""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(df.count() == sf("orders").count(),
        s"foreign-side bucket shuffle lost rows — produceResult diverges from the writer:\n$plan")

      // and directly: the bound function reproduces the writer's assignment
      val bound = graft.spark.v2.GraftBucketFunction.bind(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))
        .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
      val viaExpr = sf("orders").select(col("o_orderkey"),
          pmod(hash(col("o_orderkey")), lit(4)).as("b"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      viaExpr.foreach { case (k, b) =>
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](4, k))
        assert(bound.produceResult(row) == b, s"bucket mismatch for key $k")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("TIMESTAMP AS OF and SQL TRUNCATE") {
    spark.sql(
      """CREATE TABLE graft.db.tt_t (k BIGINT, v STRING) USING graft
        |TBLPROPERTIES ('primary-key' = 'k')""".stripMargin)
    spark.sql("INSERT INTO graft.db.tt_t VALUES (1, 'a')")
    val t = graft.table.GraftTable.load(spark, s"$wh/db/tt_t")
    val ts1 = t.store.latestSnapshot.get.timestampMs
    Thread.sleep(5)
    spark.sql("INSERT INTO graft.db.tt_t VALUES (2, 'b')")
    // travel to the instant of the first commit
    val fmt = new java.sql.Timestamp(ts1)
    val asOf = spark.sql(
      s"SELECT count(*) FROM graft.db.tt_t TIMESTAMP AS OF '$fmt'")
      .head().getLong(0)
    assert(asOf == 1, s"expected 1 row at ts1, got $asOf")
    assert(spark.sql("SELECT count(*) FROM graft.db.tt_t").head().getLong(0) == 2)
    spark.sql("TRUNCATE TABLE graft.db.tt_t")
    assert(spark.sql("SELECT count(*) FROM graft.db.tt_t").head().getLong(0) == 0)
    // history preserved: the snapshot before the truncate still serves
    assert(spark.sql(
      s"SELECT count(*) FROM graft.db.tt_t TIMESTAMP AS OF '$fmt'")
      .head().getLong(0) == 1)
  }

  test("catalog-level system tables: all_table_options + catalog_options") {
    spark.sql(
      """CREATE TABLE graft.db.opts_t (id BIGINT, v STRING) USING graft
        |TBLPROPERTIES ('primary-key' = 'id', 'bucket' = '4',
        |  'merge-engine' = 'deduplicate')""".stripMargin)
    val all = spark.sql(
      s"SELECT * FROM graft_system('$wh', 'all_table_options')")
    assert(all.columns.toSeq ==
      Seq("database_name", "table_name", "key", "value"))
    val mine = all.filter(col("table_name") === "opts_t")
      .collect().map(r => r.getString(2) -> r.getString(3)).toMap
    assert(mine("bucket") == "4")
    assert(mine("merge-engine") == "deduplicate")
    val cat = spark.sql(s"SELECT * FROM graft_system('$wh', 'catalog_options')")
    assert(cat.filter(col("key") === "warehouse").count() == 1)
  }

  test("dynamic INSERT OVERWRITE replaces only the partitions in the new data") {
    spark.sql(
      """CREATE TABLE graft.db.dyn_t (id BIGINT, v DOUBLE, flag STRING)
        |USING graft PARTITIONED BY (flag)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.db.dyn_t
        |SELECT id, 1.0, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END
        |FROM range(40)""".stripMargin)
    val saved = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // new data touches only 'a' → 'b' must survive untouched
      spark.sql(
        "INSERT OVERWRITE graft.db.dyn_t SELECT id, 9.0, 'a' FROM range(5)")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val byFlag = spark.sql(
      "SELECT flag, count(*) AS c, sum(v) AS s FROM graft.db.dyn_t GROUP BY flag")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(byFlag("a") == (5L, 45.0), s"partition a replaced: $byFlag")
    assert(byFlag("b") == (20L, 20.0), s"partition b untouched: $byFlag")
  }

  test("SHOW PARTITIONS and ALTER TABLE DROP PARTITION") {
    spark.sql(
      """CREATE TABLE graft.db.pm_t (id BIGINT, v DOUBLE, flag STRING)
        |USING graft PARTITIONED BY (flag)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.db.pm_t
        |SELECT id, id * 1.0, CASE WHEN id % 3 = 0 THEN 'a'
        |  WHEN id % 3 = 1 THEN 'b' ELSE 'c' END FROM range(90)""".stripMargin)
    val parts = spark.sql("SHOW PARTITIONS graft.db.pm_t")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(parts == Seq("flag=a", "flag=b", "flag=c"))
    // filtered listing
    assert(spark.sql("SHOW PARTITIONS graft.db.pm_t PARTITION (flag='b')")
      .collect().map(_.getString(0)).toSeq == Seq("flag=b"))
    // metadata-only drop: files of the partition leave the live set
    spark.sql("ALTER TABLE graft.db.pm_t DROP PARTITION (flag='b')")
    assert(spark.sql("SELECT count(*) FROM graft.db.pm_t").head().getLong(0) == 60)
    assert(spark.sql("SHOW PARTITIONS graft.db.pm_t")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("flag=a", "flag=c"))
    // dropping a non-existent partition is an analysis-time error
    intercept[Exception](
      spark.sql("ALTER TABLE graft.db.pm_t DROP PARTITION (flag='zzz')"))
    // TRUNCATE of one partition drops its data, keeps the others
    spark.sql("TRUNCATE TABLE graft.db.pm_t PARTITION (flag='a')")
    assert(spark.sql("SELECT count(*) FROM graft.db.pm_t").head().getLong(0) == 30)
    assert(spark.sql("SELECT DISTINCT flag FROM graft.db.pm_t")
      .collect().map(_.getString(0)).toSeq == Seq("c"))
  }

  test("ALTER COLUMN comment / nullability / position (SchemaChange algebra)") {
    spark.sql(
      """CREATE TABLE graft.db.alg (a BIGINT NOT NULL, b STRING, c DOUBLE,
        | s STRUCT<x: INT, y: INT>) USING graft""".stripMargin)
    spark.sql("INSERT INTO graft.db.alg VALUES " +
      "(1, 'one', 1.5, named_struct('x', 1, 'y', 2))")
    // comment
    spark.sql("ALTER TABLE graft.db.alg ALTER COLUMN b COMMENT 'label col'")
    // position: move c first, then b after c; and x after y INSIDE the struct
    spark.sql("ALTER TABLE graft.db.alg ALTER COLUMN c FIRST")
    spark.sql("ALTER TABLE graft.db.alg ALTER COLUMN b AFTER c")
    spark.sql("ALTER TABLE graft.db.alg ALTER COLUMN s.x AFTER y")
    // nullability relax (SQL forbids the tightening direction at analysis)
    spark.sql("ALTER TABLE graft.db.alg ALTER COLUMN a DROP NOT NULL")
    spark.sql("REFRESH TABLE graft.db.alg")
    val schema = spark.table("graft.db.alg").schema
    assert(schema("a").nullable, "DROP NOT NULL relaxed the column")
    assert(schema.fieldNames.toSeq == Seq("c", "b", "a", "s"),
      s"declared order follows the moves: ${schema.fieldNames.toSeq}")
    assert(schema("b").getComment().contains("label col"))
    assert(schema("s").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("y", "x"), "nested move reorders struct children")
    // data written before the moves still reads correctly (remap by id)
    val r = spark.sql("SELECT a, b, c, s.x, s.y FROM graft.db.alg").collect()(0)
    assert((r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3), r.getInt(4)) ==
      ((1L, "one", 1.5, 1, 2)))
    // comments survive the schema round trip in DESCRIBE
    val desc = spark.sql("DESCRIBE TABLE graft.db.alg")
      .collect().map(r2 => (r2.getString(0), r2.getString(2))).toMap
    assert(desc.get("b").contains("label col"))
    // ADD COLUMN with a position lands in place (top-level and nested)
    spark.sql("ALTER TABLE graft.db.alg ADD COLUMN d STRING AFTER c")
    spark.sql("ALTER TABLE graft.db.alg ADD COLUMN s.z INT FIRST")
    spark.sql("REFRESH TABLE graft.db.alg")
    val after = spark.table("graft.db.alg").schema
    assert(after.fieldNames.toSeq == Seq("c", "d", "b", "a", "s"))
    assert(after("s").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("z", "y", "x"))
  }

  test("row-level SQL over nested fields: UPDATE SET s.x, DELETE WHERE s.y") {
    spark.sql(
      """CREATE TABLE graft.db.nested_rls (
        | id BIGINT, person STRUCT<name: STRING, age: INT>)
        |USING graft TBLPROPERTIES ('primary-key' = 'id')""".stripMargin)
    spark.sql("INSERT INTO graft.db.nested_rls VALUES " +
      "(1, named_struct('name','alice','age',30))," +
      "(2, named_struct('name','bob','age',25))," +
      "(3, named_struct('name','carol','age',70))")
    // nested assignment: only the addressed member changes
    spark.sql("UPDATE graft.db.nested_rls SET person.age = 31 WHERE person.name = 'alice'")
    val r = spark.sql(
      "SELECT person.name, person.age FROM graft.db.nested_rls ORDER BY id").collect()
    assert(r.map(x => (x.getString(0), x.getInt(1))).toSeq ==
      Seq(("alice", 31), ("bob", 25), ("carol", 70)))
    // nested predicate delete
    spark.sql("DELETE FROM graft.db.nested_rls WHERE person.age > 60")
    assert(spark.sql("SELECT count(*) FROM graft.db.nested_rls").head().getLong(0) == 2)
    // MERGE with a NESTED set key: only the addressed member changes
    spark.sql("CREATE TABLE graft.db.nested_src (id BIGINT, age INT) USING graft")
    spark.sql("INSERT INTO graft.db.nested_src VALUES (2, 26), (4, 40)")
    spark.sql(
      """MERGE INTO graft.db.nested_rls t USING graft.db.nested_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.person.age = s.age
        |WHEN NOT MATCHED THEN INSERT (id, person) VALUES
        |  (s.id, named_struct('name', 'new', 'age', s.age))""".stripMargin)
    val m = spark.sql(
      "SELECT id, person.name, person.age FROM graft.db.nested_rls ORDER BY id").collect()
    assert(m.map(x => (x.getLong(0), x.getString(1), x.getInt(2))).toSeq ==
      Seq((1L, "alice", 31), (2L, "bob", 26), (4L, "new", 40)))
    // assigning a whole struct AND one of its members is ambiguous → error,
    // never a silent overwrite of one by the other
    val ex = intercept[Exception] {
      spark.sql("UPDATE graft.db.nested_rls SET person = " +
        "named_struct('name','x','age',1), person.age = 2 WHERE id = 1")
    }
    assert(ex.getMessage.toLowerCase.contains("conflict") ||
      ex.getMessage.toLowerCase.contains("person"), ex.getMessage)
  }

  test("scan.timestamp time travel and table-level dynamic-partition-overwrite") {
    spark.sql(
      """CREATE TABLE graft.db.tt (k BIGINT, flag STRING) USING graft
        |PARTITIONED BY (flag)
        |TBLPROPERTIES ('dynamic-partition-overwrite' = 'true')""".stripMargin)
    spark.sql("INSERT INTO graft.db.tt VALUES (1, 'a'), (2, 'b')")
    // scan.timestamp is second-granular — put a full second between commits
    Thread.sleep(1100)
    val betweenTs = System.currentTimeMillis()
    Thread.sleep(50)
    spark.sql("INSERT INTO graft.db.tt VALUES (3, 'a')")
    // time travel by datetime string (UTC) and by millis
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    assert(spark.read.option("scan.timestamp", fmt.format(
      java.time.Instant.ofEpochMilli(betweenTs))).table("graft.db.tt")
      .count() == 2, "datetime-string time travel sees only snapshot 1")
    assert(spark.read.option("scan.timestamp-millis", betweenTs.toString)
      .table("graft.db.tt").count() == 2)
    // table-level dynamic overwrite: whole-table INSERT OVERWRITE replaces
    // only the partitions present in the new data (flag=a), keeps flag=b
    spark.sql("INSERT OVERWRITE graft.db.tt VALUES (9, 'a')")
    val rows = spark.sql("SELECT k, flag FROM graft.db.tt ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((2L, "b"), (9L, "a")),
      s"flag=a replaced, flag=b untouched: $rows")
  }

  test("CTAS and REPLACE TABLE AS SELECT through the catalog") {
    sf("orders").limit(50).createOrReplaceTempView("ctas_src")
    spark.sql(
      """CREATE TABLE graft.db.ctas_t USING graft
        |TBLPROPERTIES ('primary-key' = 'o_orderkey')
        |AS SELECT o_orderkey, o_totalprice FROM ctas_src""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM graft.db.ctas_t").head().getLong(0) == 50)
    // PK semantics took: an upsert of the same keys keeps count at 50
    spark.sql(
      "INSERT INTO graft.db.ctas_t SELECT o_orderkey, o_totalprice * 2 FROM ctas_src")
    assert(spark.sql("SELECT count(*) FROM graft.db.ctas_t").head().getLong(0) == 50)
    // RTAS: new schema + new content replace the old table
    spark.sql(
      """REPLACE TABLE graft.db.ctas_t USING graft
        |AS SELECT o_orderkey, o_orderpriority FROM ctas_src WHERE o_orderkey % 2 = 0""".stripMargin)
    val after = spark.table("graft.db.ctas_t")
    assert(after.schema.fieldNames.toSeq == Seq("o_orderkey", "o_orderpriority"))
    assert(after.count() == sf("orders").limit(50)
      .filter(col("o_orderkey") % 2 === 0).count())
  }

  test("nested evolution reads through the DSv2 scan: rename/add inside a struct") {
    spark.sql(
      """CREATE TABLE graft.db.nested_ev (
        | id BIGINT, person STRUCT<name: STRING, age: INT>)
        |USING graft""".stripMargin)
    spark.sql(
      "INSERT INTO graft.db.nested_ev VALUES (1, named_struct('name','alice','age',30))")
    // evolve through SQL DDL: TableChange field paths reach the nested
    // evolution API (ALTER COLUMN paths are dotted in Spark SQL)
    spark.sql("ALTER TABLE graft.db.nested_ev RENAME COLUMN person.name TO nick")
    spark.sql("ALTER TABLE graft.db.nested_ev ADD COLUMN person.vip BOOLEAN")
    spark.sql("REFRESH TABLE graft.db.nested_ev")
    spark.sql(
      "INSERT INTO graft.db.nested_ev VALUES " +
        "(2, named_struct('nick','bob','age',25,'vip',true))")
    val rows = spark.sql(
      """SELECT id, person.nick, person.age, person.vip
        |FROM graft.db.nested_ev ORDER BY id""".stripMargin).collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("alice", "bob"),
      "old file's renamed nested field follows its id through GraftScan")
    assert(rows.map(_.getInt(2)).toSeq == Seq(30, 25))
    assert(rows.map(r => Option(r.get(3))).toSeq == Seq(None, Some(true)),
      "added nested field null-fills the old file")
    // nested-field filter over the evolved read still answers correctly
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.nested_ev WHERE person.nick = 'alice'")
      .head().getLong(0) == 1)
  }

}
