package graft

import graft.core.{CommitKind, DataFileMeta, ManifestEntry, Snapshot}
import graft.table.GraftTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.Random

/** Both exact changelog producers — `lookup` at each upsert and
  * `full-compaction` at each full compaction — emit their changelog from
  * the compaction reader's per-key fold ([[graft.merge.ChangelogMergeRows]]).
  * This spec holds every changelog they commit to the full-outer-join diff
  * kept in [[ReferenceChangelog]], over generated histories (upserts with
  * duplicate keys, -D/-U rows, nulls and out-of-order versions; full
  * compactions in between) across merge engines and table shapes. The
  * changelogs must be equal as multisets of (kind, every field, bucket,
  * seq, pos).
  */
class ChangelogEquivalenceSpec extends SparkSpec {
  import GraftMeta._

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("p", StringType, nullable = false),
    StructField("ver", LongType, nullable = false),
    StructField("l", LongType),
    StructField("c", LongType),
    StructField("d", DoubleType),
    StructField("s", StringType),
    StructField("arr", ArrayType(LongType)),
    StructField("ts", IntegerType, nullable = false)))

  private val nowSec = (System.currentTimeMillis() / 1000).toInt

  /** A history's table shape. `crossPartition`: partitioned by `p` with
    * the key alone as primary key, so keys move between partitions.
    */
  private case class Shape(name: String, options: Map[String, String],
      partitioned: Boolean = false, crossPartition: Boolean = false,
      retracts: Boolean = true, evolve: Boolean = false, shortenExpiry: Boolean = false)

  private val aggregation = Map("merge-engine" -> "aggregation",
    "fields.l.aggregate-function" -> "sum", "fields.c.aggregate-function" -> "count",
    "fields.arr.aggregate-function" -> "collect", "fields.d.aggregate-function" -> "max")
  private val expiry = Map("record-level.expire-time" -> "1 d",
    "record-level.time-field" -> "ts")

  private val both = Seq(
    Shape("deduplicate", Map("bucket" -> "2"), partitioned = true),
    Shape("deduplicate-rowdedup", Map("bucket" -> "1",
      "changelog-producer.row-deduplicate" -> "true")),
    Shape("partial-update", Map("merge-engine" -> "partial-update", "bucket" -> "2",
      "changelog-producer.row-deduplicate" -> "true"), retracts = false),
    Shape("partial-update-seqgroup", Map("merge-engine" -> "partial-update",
      "bucket" -> "1", "fields.ver.sequence-group" -> "d,s"), retracts = false),
    Shape("aggregation", aggregation + ("bucket" -> "2")),
    Shape("sequence-field", Map("sequence.field" -> "ver", "bucket" -> "2")),
    Shape("cross-partition", Map("bucket" -> "2"), crossPartition = true),
    Shape("evolved", Map("bucket" -> "1"), partitioned = true, evolve = true),
    Shape("ignore-delete", Map("ignore-delete" -> "true", "bucket" -> "2")),
    Shape("record-expiry", expiry + ("bucket" -> "2"), shortenExpiry = true))
  private val lookupOnly = Seq(
    Shape("first-row", Map("merge-engine" -> "first-row", "bucket" -> "2")),
    Shape("deletion-vectors", Map("deletion-vectors.enabled" -> "true", "bucket" -> "2"),
      partitioned = true))

  private def batch(rnd: Random, shape: Shape, n: Int): Seq[Row] = (0 until n).map { _ =>
    val k = rnd.nextInt(12).toLong
    def orNull[T](v: => T): Any = if (rnd.nextInt(5) == 0) null else v
    Row(k,
      if (shape.crossPartition) "p" + rnd.nextInt(3) else "p" + (k % 2),
      rnd.nextInt(20).toLong, // out-of-order versions incl. duplicates
      orNull(rnd.nextInt(4).toLong), // few values: unchanged rewrites happen
      orNull(rnd.nextInt(100).toLong),
      orNull(rnd.nextInt(3) / 2.0),
      orNull(s"v${rnd.nextInt(3)}"),
      orNull((0 until rnd.nextInt(3)).map(_ => rnd.nextInt(4).toLong)),
      // live, expiring once the expiry shortens to an hour, long expired
      nowSec - Seq(0, 0, 7200, 3 * 86400)(rnd.nextInt(4)))
  }

  private def canon(df: DataFrame, fields: Seq[String]): Seq[String] =
    df.select((fields ++ Seq(KindCol, BucketCol, SeqCol, PosCol)).map(col): _*).collect()
      .map(_.toSeq.map {
        case null => "∅"
        case sq: Seq[_] => sq.mkString("[", ";", "]")
        case x => x.toString
      }.mkString("|")).sorted.toSeq

  private def entries(manifests: Seq[String], t: GraftTable): Seq[ManifestEntry] =
    manifests.flatMap(t.store.readManifest)

  /** The reference changelog of snapshot `s` (after `prev`), if its
    * producer writes one for it.
    */
  private def reference(t: GraftTable, prev: Option[Snapshot], s: Snapshot,
      producer: String): Option[DataFrame] = {
    val delta = entries(s.deltaManifests, t)
    val live = prev.map(t.store.liveFiles).getOrElse(Nil)
    (producer, s.commitKind) match {
      case ("lookup", CommitKind.APPEND) =>
        val livePaths = live.map(_.path).toSet
        // the staged level-0 files; dv tables also re-add masked old files
        val newFiles = delta.collect {
          case ManifestEntry(ManifestEntry.ADD, f) if f.level == 0 && !livePaths(f.path) => f
        }
        val oldFiles: Seq[DataFileMeta] =
          if (t.schema.crossPartition) {
            val buckets = newFiles.map(_.bucket).toSet
            t.crossPartitionPreImage(newFiles, live.filter(f => buckets.contains(f.bucket)),
              prev.map(_.indexFiles).getOrElse(Nil))
          } else {
            val groups = newFiles.map(f => (f.partition, f.bucket)).toSet
            live.filter(f => groups.contains((f.partition, f.bucket)))
          }
        Some(ReferenceChangelog.lookup(t, oldFiles, newFiles, s.id))
      case ("full-compaction", CommitKind.COMPACT) =>
        val touched = delta.collect { case ManifestEntry(ManifestEntry.DELETE, f) => f }
        val written = delta.collect { case ManifestEntry(ManifestEntry.ADD, f) => f }
        Some(ReferenceChangelog.fullCompaction(t, touched, written, s.id - 1))
      case _ => None
    }
  }

  private def history(shape: Shape, producer: String, seed: Long): Set[Byte] = {
    val rnd = new Random(seed)
    val t = GraftTable.create(spark, tmpTable(), schema,
      partitionKeys = if (shape.partitioned || shape.crossPartition) Seq("p") else Nil,
      primaryKeys = if (shape.partitioned) Seq("k", "p") else Seq("k"),
      options = shape.options ++ Map("changelog-producer" -> producer, "write-only" -> "true"))
    val what = s"${shape.name}/$producer"
    var checked = 0L
    var kinds = Set.empty[Byte]
    def check(): Unit = {
      val ids = t.store.snapshotIds.filter(_ > checked)
      ids.foreach { id =>
        val s = t.store.readSnapshot(id)
        val prev = if (id > 1) Some(t.store.readSnapshot(id - 1)) else None
        val fields = t.schema.fields.map(_.name)
        val actual = canon(ReferenceRawRead.rawUnion(t, t.changelogOf(s)._2, t.schema), fields)
        val expected = reference(t, prev, s, producer).map(canon(_, fields)).getOrElse(Nil)
        assert(actual == expected, s"$what: changelog of snapshot $id (${s.commitKind}) " +
          s"differs\n  produced: ${actual.diff(expected)}\n  reference: ${expected.diff(actual)}")
        kinds ++= actual.map(_.split('|')(fields.size).toByte)
      }
      checked = ids.lastOption.getOrElse(checked)
    }
    def upsert(): Unit = {
      val raw = spark.createDataFrame(
        spark.sparkContext.parallelize(batch(rnd, shape, 14), 2), schema)
      val df =
        if (!t.schema.fields.exists(_.name == "x")) raw
        else raw.withColumnRenamed("s", "s2").withColumn("x", (col("k") % 3).cast("int"))
      // -D and -U input rows on a third of the batches
      val retract = shape.retracts && rnd.nextInt(3) == 0
      t.upsert(df, kinds = if (!retract) None else Some(
        when(col("c") % 5 === 0, lit(KindDelete))
          .when(col("c") % 5 === 1, lit(KindUpdateBefore))
          .otherwise(lit(KindInsert))))
      check()
    }
    def compact(): Unit = { t.compact(); check() }
    upsert(); upsert(); compact()
    if (shape.evolve) { t.addColumn("x", IntegerType); t.renameColumn("s", "s2") }
    upsert(); upsert()
    // top-level rows written two hours ago now expire at compaction
    if (shape.shortenExpiry) t.setOption("record-level.expire-time", "1 h")
    compact()
    if (producer == "lookup") upsert()
    assert(checked == t.store.latestSnapshotId.get)
    kinds
  }

  test("changelog-producer is parsed at create: an unknown value fails") {
    def create(producer: String) = GraftTable.create(spark, tmpTable(), schema,
      primaryKeys = Seq("k"), options = Map("changelog-producer" -> producer))
    val e = intercept[IllegalArgumentException](create("lookp"))
    assert(e.getMessage.contains("unsupported changelog-producer: lookp"), e.getMessage)
    for (p <- Seq("none", "input", "lookup", "full-compaction"))
      assert(create(p).schema.changelogProducer.name == p)
    intercept[IllegalArgumentException](create("none").setOption("changelog-producer", "ful"))
  }

  test("lookup and full-compaction changelogs equal the join-diff reference") {
    val seen = scala.collection.mutable.Map.empty[String, Set[Byte]].withDefaultValue(Set.empty)
    for ((shape, i) <- both.zipWithIndex; producer <- Seq("lookup", "full-compaction"))
      seen(producer) ++= history(shape, producer, 31L * i + producer.length)
    for ((shape, i) <- lookupOnly.zipWithIndex)
      seen("lookup") ++= history(shape, "lookup", 1000L + i)
    // the histories reach every changelog kind under both producers
    for (p <- Seq("lookup", "full-compaction"))
      assert(seen(p) == Set(KindInsert, KindUpdateBefore, KindUpdateAfter, KindDelete),
        s"$p emitted only kinds ${seen(p)}")
  }
}
