package graft

/** Row-level operations on primary-key tables through Spark's delta
  * protocol (SupportsRowLevelOperations + SupportsDelta): Spark's own
  * rewrites plan UPDATE, MERGE and subquery DELETE as a WriteDelta on every
  * primary-key table, for SQL and for the Scala API; the `rowlevel.v2`
  * table property some tables still carry changes nothing.
  */
class DeltaProtocolSpec extends SparkSpec {

  private lazy val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft_dp", classOf[graft.spark.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_dp.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_dp.db")
  }

  private var n = 0
  private def freshName(): String = { n += 1; s"dp_$n" }

  private def mkTable(flag: Boolean): String = {
    val name = freshName()
    val props = if (flag) ", 'rowlevel.v2' = 'true'" else ""
    spark.sql(
      s"""CREATE TABLE graft_dp.db.$name (k BIGINT, status STRING, price DOUBLE)
         |USING graft TBLPROPERTIES ('primary-key' = 'k', 'bucket' = '2'$props)""".stripMargin)
    spark.sql(s"INSERT INTO graft_dp.db.$name VALUES " +
      "(1, 'O', 10.0), (2, 'F', 20.0), (3, 'O', 30.0), (4, 'F', 40.0)")
    name
  }

  private def dml(name: String): Unit = {
    spark.sql(s"UPDATE graft_dp.db.$name SET price = price * 2 WHERE status = 'O'")
    spark.sql("SELECT * FROM VALUES (CAST(2 AS BIGINT), 'X', 0.0), " +
      "(CAST(9 AS BIGINT), 'N', 90.0) AS v(k, status, price)")
      .createOrReplaceTempView(s"${name}_src")
    spark.sql(
      s"""MERGE INTO graft_dp.db.$name t USING ${name}_src s ON t.k = s.k
         |WHEN MATCHED AND s.status = 'X' THEN UPDATE SET status = s.status, price = s.price
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql(s"DELETE FROM graft_dp.db.$name WHERE price >= 80.0")
  }

  private def snap(name: String): Seq[(Long, String, Double)] =
    spark.sql(s"SELECT k, status, price FROM graft_dp.db.$name ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq

  test("UPDATE, MERGE and DELETE through the delta rewrite give the expected rows") {
    val name = mkTable(flag = false)
    dml(name)
    // 1 doubled (O), 2 overwritten by MERGE, 9 inserted then deleted with
    // 4x-priced rows (>=80): 9@90 deleted
    assert(snap(name) == Seq((1L, "O", 20.0), (2L, "X", 0.0), (3L, "O", 60.0), (4L, "F", 40.0)),
      snap(name).toString)
  }

  test("subquery DELETE plans WriteDelta on every PK table") {
    // not expressible as pushed filters; the delta rewrite plans it as a
    // WriteDelta join, with or without the (inert) rowlevel.v2 property
    for (flag <- Seq(true, false)) {
      val name = mkTable(flag)
      spark.sql(s"DELETE FROM graft_dp.db.$name WHERE k IN " +
        s"(SELECT k FROM graft_dp.db.$name WHERE price >= 30.0)")
      assert(snap(name).map(_._1) == Seq(1L, 2L), snap(name).toString)
    }
  }

  test("SQL and Scala UPDATE/MERGE plan WriteDelta; append UPDATE plans a command") {
    def planOf(sql: String): String =
      spark.sessionState.executePlan(spark.sessionState.sqlParser.parsePlan(sql))
        .analyzed.toString
    for (flag <- Seq(true, false)) {
      val name = mkTable(flag)
      val up = planOf(s"UPDATE graft_dp.db.$name SET price = 0.0 WHERE status = 'O'")
      assert(up.contains("WriteDelta"), s"expected WriteDelta in:\n$up")
      spark.sql("SELECT CAST(2 AS BIGINT) AS k, 'X' AS status, 1.0 AS price")
        .createOrReplaceTempView(s"${name}_plan_src")
      val mg = planOf(s"""MERGE INTO graft_dp.db.$name t USING ${name}_plan_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(mg.contains("WriteDelta"), s"expected WriteDelta in:\n$mg")
    }
    val append = freshName()
    spark.sql(s"CREATE TABLE graft_dp.db.$append (k BIGINT, price DOUBLE) USING graft")
    val ap = planOf(s"UPDATE graft_dp.db.$append SET price = 0.0 WHERE k = 1")
    assert(ap.contains("GraftUpdateCommand"), s"expected GraftUpdateCommand in:\n$ap")

    // the Scala API runs the same plans: catch their analyzed plans as they run
    val analyzed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = analyzed.add(qe.analyzed.toString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val t = graft.table.GraftTable.load(spark, s"$wh/db/${mkTable(flag = false)}")
      import org.apache.spark.sql.functions.{col, lit}
      t.update(col("status") === "O", Map("price" -> lit(0.0)))
      t.mergeInto(spark.sql("SELECT CAST(2 AS BIGINT) AS k, 'X' AS status, 1.0 AS price"),
          col("t.k") === col("s.k"))
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
      import org.scalatest.concurrent.Eventually._
      import org.scalatest.time.SpanSugar._
      eventually(timeout(30.seconds)) {
        val plans = analyzed.toArray.map(_.toString)
        assert(plans.count(p => p.contains("WriteDelta")) >= 2, plans.mkString("\n---\n"))
      }
      assert(snap(t.location.split('/').last).map(r => (r._1, r._3)) ==
        Seq((1L, 0.0), (2L, 1.0), (3L, 0.0), (4L, 40.0)))
    } finally spark.listenerManager.unregister(listener)
  }

  test("delta deletes succeed on tables with NOT NULL non-pk columns") {
    // delete() stages key-only rows (non-key values null); the staged schema
    // must relax NOT NULL on non-pk fields or the parquet writer throws on
    // the unset REQUIRED field
    val name = freshName()
    spark.sql(
      s"""CREATE TABLE graft_dp.db.$name
         |(k BIGINT, status STRING NOT NULL, price DOUBLE NOT NULL)
         |USING graft TBLPROPERTIES
         |('primary-key' = 'k', 'bucket' = '2', 'rowlevel.v2' = 'true')""".stripMargin)
    spark.sql(s"INSERT INTO graft_dp.db.$name VALUES " +
      "(1, 'O', 10.0), (2, 'F', 20.0), (3, 'O', 30.0)")
    // subquery DELETE cannot fall back to the metadata path — it must stage
    // delete rows through the delta writer
    spark.sql(s"DELETE FROM graft_dp.db.$name WHERE k IN " +
      s"(SELECT k FROM graft_dp.db.$name WHERE price >= 20.0)")
    assert(snap(name) == Seq((1L, "O", 10.0)), snap(name).toString)
    // MERGE delete action takes the same staged-row path
    spark.sql("SELECT CAST(1 AS BIGINT) AS k").createOrReplaceTempView(s"${name}_del")
    spark.sql(
      s"""MERGE INTO graft_dp.db.$name t USING ${name}_del s ON t.k = s.k
         |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(snap(name).isEmpty, snap(name).toString)
  }

  test("deletes with pushable predicates still take the metadata path on flagged tables") {
    val flagged = mkTable(flag = true)
    // a plain predicate DELETE must NOT rewrite to WriteDelta (Spark's
    // OptimizeMetadataOnlyDeleteFromTable converts it back because
    // canDeleteWhere accepts the filters) — cheap deletes stay cheap
    spark.sql(s"DELETE FROM graft_dp.db.$flagged WHERE k = 4")
    assert(snap(flagged).map(_._1) == Seq(1L, 2L, 3L))
  }
}
