package graft

import graft.core.DataFileMeta
import graft.table.GraftTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The raw mode of `GraftScan` (`GraftTable.rawDF`) against the DSv1 raw
  * reader it replaced ([[ReferenceRawRead]]): over the same files, both
  * must read the same multiset of rows, merge machinery columns and
  * `__bucket` included, also under a pushed filter. The shapes are the ones
  * the raw reader must align or mask: schema evolution (top-level and
  * nested), deletion vectors, per-level formats, bucketed append tables
  * and PK `-D` rows.
  */
class RawReadEquivalenceSpec extends SparkSpec {
  import GraftMeta._

  private def canon(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq

  /** Holds rawDF to the reference over every live file and over each
    * file alone; returns the row count.
    */
  private def check(t: GraftTable, filter: Option[org.apache.spark.sql.Column] = None): Long = {
    val live = t.store.liveFiles(t.store.latestSnapshot.get)
    val cols = t.rawSchema.fieldNames.toSeq
    def both(files: Seq[DataFileMeta]): Seq[String] = {
      val f = filter.getOrElse(lit(true))
      val got = canon(t.rawDF(files).filter(f), cols)
      val want = canon(ReferenceRawRead.rawUnion(t, files, t.schema).filter(f), cols)
      assert(got == want, s"raw rows differ\n  scan: ${got.diff(want).take(5)}\n" +
        s"  reference: ${want.diff(got).take(5)}")
      got
    }
    val all = both(live)
    live.take(3).foreach(f => both(Seq(f)))
    all.size
  }

  test("schema evolution: added, renamed and widened top-level columns") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpTable(),
      Seq((1L, "a", 1)).toDF("id", "name", "n").schema, partitionKeys = Nil)
    t.append((1L to 40L).map(i => (i, s"n$i", i.toInt)).toDF("id", "name", "n"))
    t.addColumn("extra", StringType)
    t.append((41L to 60L).map(i => (i, s"n$i", i.toInt, s"e$i")).toDF("id", "name", "n", "extra"))
    t.renameColumn("name", "label")
    t.updateColumnType("n", LongType)
    t.append((61L to 70L).map(i => (i, s"l$i", i, s"e$i")).toDF("id", "label", "n", "extra"))
    assert(check(t) == 70)
    assert(check(t, Some(col("id") > 50 && col("label").isNotNull)) == 20)

    val pk = GraftTable.create(spark, tmpTable(),
      Seq((1L, "a", 1.0)).toDF("k", "v", "x").schema, primaryKeys = Seq("k"),
      options = Map("bucket" -> "2", "write-only" -> "true"))
    pk.upsert((1L to 30L).map(i => (i, s"v$i", i * 1.0)).toDF("k", "v", "x"))
    pk.addColumn("w", IntegerType)
    pk.renameColumn("v", "v2")
    pk.upsert((20L to 40L).map(i => (i, s"u$i", i * 2.0, i.toInt)).toDF("k", "v2", "x", "w"))
    assert(check(pk) == 51)
  }

  test("schema evolution: a renamed column's old name reused prunes by field id") {
    import spark.implicits._
    Seq(Map.empty[String, String], Map("deletion-vectors.enabled" -> "true")).foreach { dv =>
      val t = GraftTable.create(spark, tmpTable(), Seq((1L, "a")).toDF("id", "v").schema,
        options = dv + ("file-index.bloom.columns" -> "v"))
      // enough commits to fold the old files into add-only shards
      (0 until 18).foreach(i =>
        t.append((1L to 3L).map(j => (i * 3 + j, s"v${i * 3 + j}")).toDF("id", "v")))
      t.renameColumn("v", "w")
      t.addColumn("v", StringType)
      t.append(Seq((100L, "w100", "x"), (101L, "w101", null)).toDF("id", "w", "v"))
      val snap = t.store.latestSnapshot.get
      // the old files' stats and blooms still say `v`: the field now named `w`
      assert(snap.manifestMeta.exists(m => m.addOnly && m.colStats.contains("v")))
      val live = t.store.liveFiles(snap)
      assert(live.filter(_.schemaId != t.schema.id).forall(_.blooms.contains("v")))
      val cols = Seq("id", "w", "v")
      Seq(col("v").isNull, col("v").isNotNull, col("v") === "x", col("v") === "v7",
          col("w") === "v7", col("w") > "v50").foreach { f =>
        assert(canon(t.toDF.filter(f), cols) ==
          canon(ReferenceRawRead.rawUnion(t, live, t.schema).filter(f), cols), s"$dv $f")
      }
      assert(t.toDF.filter(col("v").isNull).count() == 55)
      assert(check(t, Some(col("v").isNull)) == 55)
      t.delete(col("v").isNull)
      assert(canon(t.toDF, cols) == Seq("[100,w100,x]"), dv.toString)
    }
  }

  test("schema evolution: nested struct children added and renamed") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpTable(), StructType(Seq(
      StructField("id", LongType),
      StructField("s", StructType(Seq(StructField("x", StringType),
        StructField("y", IntegerType)))))))
    t.append((1L to 20L).map(i => (i, (s"x$i", i.toInt))).toDF("id", "s")
      .select(col("id"), struct(col("s._1").as("x"), col("s._2").as("y")).as("s")))
    t.addColumn("s.z", StringType)
    t.renameColumn("s.x", "xx")
    t.append((21L to 30L).map(i => (i, (s"x$i", i.toInt, s"z$i"))).toDF("id", "s")
      .select(col("id"),
        struct(col("s._1").as("xx"), col("s._2").as("y"), col("s._3").as("z")).as("s")))
    // a null struct stays null, not a struct of nulls
    t.append(Seq(31L).toDF("id").select(col("id"),
      lit(null).cast(t.schema.fieldByName("s").sparkType).as("s")))
    assert(check(t) == 31)
    assert(check(t, Some(col("s.xx").startsWith("x1"))) == 11)
  }

  test("deletion vectors: pk dv table and append dv deletes mask the same rows") {
    import spark.implicits._
    val pk = GraftTable.create(spark, tmpTable(),
      Seq((1L, "a")).toDF("k", "v").schema, primaryKeys = Seq("k"),
      options = Map("bucket" -> "2", "deletion-vectors.enabled" -> "true",
        "write-only" -> "true"))
    pk.upsert((1L to 50L).map(i => (i, s"a$i")).toDF("k", "v"))
    pk.upsert((10L to 30L).map(i => (i, s"b$i")).toDF("k", "v"))
    pk.upsert((25L to 35L).map(i => (i, s"c$i")).toDF("k", "v"))
    pk.delete(col("k") === 3L)
    val live = pk.store.liveFiles(pk.store.latestSnapshot.get)
    assert(live.exists(_.dvPath.isDefined), "expected masked files")
    // 82 stored rows: 32 superseded by later upserts, one deleted
    assert(check(pk) == 49)
    assert(check(pk, Some(col("v").startsWith("b"))) == 15)

    val ap = GraftTable.create(spark, tmpTable(), Seq((1L, "a")).toDF("id", "v").schema,
      options = Map("deletion-vectors.enabled" -> "true"))
    ap.append((1L to 60L).map(i => (i, s"v$i")).toDF("id", "v"))
    ap.append((61L to 90L).map(i => (i, s"v$i")).toDF("id", "v"))
    ap.delete(col("id") % 7 === 0)
    assert(ap.store.liveFiles(ap.store.latestSnapshot.get).exists(_.dvPath.isDefined))
    assert(check(ap) == 90 - 12)
    // the masked positions are the ones the metadata columns report
    val paths = ap.rawDF(ap.store.liveFiles(ap.store.latestSnapshot.get))
      .select(graft.spark.v2.GraftSparkTable.FilePathCol,
        graft.spark.v2.GraftSparkTable.RowIndexCol, "id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val ref = ReferenceRawRead.rawUnion(ap, ap.store.liveFiles(ap.store.latestSnapshot.get),
      ap.schema)
      .select(col("_metadata.file_path"), col("_metadata.row_index"), col("id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(paths.map(p => (new org.apache.hadoop.fs.Path(p._1).toUri.getPath, p._2, p._3)) ==
      ref.map(p => (new org.apache.hadoop.fs.Path(p._1).toUri.getPath, p._2, p._3)))
  }

  test("per-level formats: avro level-0 runs over a parquet compacted base") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpTable(), Seq((1L, "a", 1.0)).toDF("k", "v", "x").schema,
      primaryKeys = Seq("k"),
      options = Map("bucket" -> "2", "write-only" -> "true",
        "file.format.per.level" -> s"0:avro,${GraftTable.MaxLevel}:parquet"))
    t.upsert((1L to 40L).map(i => (i, s"a$i", i * 1.0)).toDF("k", "v", "x"))
    t.compact()
    t.upsert((30L to 50L).map(i => (i, s"b$i", i * 2.0)).toDF("k", "v", "x"))
    val fmts = t.store.liveFiles(t.store.latestSnapshot.get)
      .flatMap(f => GraftTable.formatNameOfPath(f.path)).toSet
    assert(fmts == Set("avro", "parquet"), fmts.toString)
    assert(check(t) == 61)
    assert(check(t, Some(col("k") <= 35)) == 41)
  }

  test("bucketed append tables: __bucket and bucket pruning") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpTable(), Seq((1L, "p", 1.0)).toDF("id", "pt", "x").schema,
      partitionKeys = Seq("pt"), options = Map("bucket-key" -> "id", "bucket" -> "4"))
    t.append((1L to 80L).map(i => (i, if (i % 2 == 0) "e" else "o", i * 0.5))
      .toDF("id", "pt", "x"))
    t.append((81L to 100L).map(i => (i, "e", i * 0.5)).toDF("id", "pt", "x"))
    assert(t.rawSchema.fieldNames.contains(BucketCol))
    assert(check(t) == 100)
    assert(check(t, Some(col("id") === 42L)) == 1)
    assert(check(t, Some(col("pt") === "o" && col("id") < 40)) == 20)
    // __bucket is the write routing, hash(bucket-key) % n
    val raw = t.rawDF(t.store.liveFiles(t.store.latestSnapshot.get))
    assert(raw.filter(col(BucketCol) =!= pmod(hash(col("id")), lit(4))).isEmpty)
    assert(raw.filter(col(BucketCol) === 1).count() ==
      raw.filter(pmod(hash(col("id")), lit(4)) === 1).count())
    // a filter on the bucket directory column prunes the same in both
    val odd = raw.filter(col("pt") === "o" && col(BucketCol) === 1).count()
    assert(odd > 0)
    assert(check(t, Some(col("pt") === "o" && col(BucketCol) === 1)) == odd)
  }

  test("pk -D rows: raw reads keep every stored kind") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmpTable(), Seq((1L, "p", "a")).toDF("k", "pt", "v").schema,
      partitionKeys = Seq("pt"), primaryKeys = Seq("k", "pt"),
      options = Map("bucket" -> "2", "write-only" -> "true"))
    t.upsert((1L to 30L).map(i => (i, if (i % 3 == 0) "x" else "y", s"a$i")).toDF("k", "pt", "v"))
    t.upsert((1L to 10L).map(i => (i, if (i % 3 == 0) "x" else "y", s"a$i")).toDF("k", "pt", "v"),
      kinds = Some(lit(KindDelete)))
    t.upsert((5L to 15L).map(i => (i, if (i % 3 == 0) "x" else "y", s"u$i")).toDF("k", "pt", "v"),
      kinds = Some(lit(KindUpdateAfter)))
    val n = check(t)
    assert(n == 30 + 10 + 11)
    assert(t.rawDF(t.store.liveFiles(t.store.latestSnapshot.get))
      .filter(col(KindCol) === KindDelete).count() == 10)
    assert(check(t, Some(col(KindCol) =!= KindInsert && col("pt") === "x")) == 3 + 4)
  }
}
