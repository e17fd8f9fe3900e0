package graft

import graft.table.GraftTable
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.Random

/** Every production merge — the DSv2 merge-on-read scan and every
  * compaction rewrite — runs through the executor-side row k-way merge
  * ([[graft.merge.RowMerger]]). This spec holds it to an independent
  * oracle, the DataFrame group-merge fold kept in [[ReferenceMerge]] (the
  * two have diverged before, on null handling in nested_update). It
  * fuzzes random engine configs + random batches with nulls, duplicate
  * keys, deletes, and out-of-order sequence values, and compares the
  * oracle against the DSv2 read before any compaction, after full
  * compaction, and after a run-subset compaction where the engine allows
  * one — and checks that no compaction changes the table's contents.
  */
class MergePathEquivalenceSpec extends SparkSpec {

  private lazy val wh = java.nio.file.Files.createTempDirectory("graft-eqwh").toString

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.geq", classOf[graft.spark.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.geq.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS geq.db")
  }

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("p", StringType, nullable = false), // optional partition key
    StructField("ver", LongType, nullable = false),
    StructField("l", LongType),
    StructField("d", DoubleType),
    StructField("s", StringType),
    StructField("b", BooleanType),
    StructField("arr", ArrayType(LongType))))

  private def randomConfig(rnd: Random): Map[String, String] = {
    val engine = Seq("deduplicate", "first-row", "partial-update", "aggregation")(rnd.nextInt(4))
    val base = Map("merge-engine" -> engine, "bucket" -> (1 + rnd.nextInt(3)).toString)
    val seqField = if (rnd.nextBoolean() && engine != "first-row")
      Map("sequence.field" -> "ver") else Map.empty
    val aggs = if (engine == "aggregation") Map(
      "fields.l.aggregate-function" -> Seq("sum", "max", "min", "last_non_null_value")(rnd.nextInt(4)),
      "fields.d.aggregate-function" -> Seq("sum", "max", "min")(rnd.nextInt(3)),
      "fields.s.aggregate-function" -> Seq("last_non_null_value", "first_value", "listagg")(rnd.nextInt(3)),
      "fields.b.aggregate-function" -> Seq("bool_or", "bool_and")(rnd.nextInt(2)),
      "fields.arr.aggregate-function" -> "collect") ++
      (if (rnd.nextBoolean()) Map("fields.arr.distinct" -> "true") else Map.empty)
    else Map.empty
    // partial-update: sometimes version the (d, s) fields by their own
    // sequence column instead of the global order
    val seqGroup = if (engine == "partial-update" && rnd.nextBoolean())
      Map("fields.ver.sequence-group" -> "d,s") else Map.empty
    // compaction is driven explicitly: write-only stops the writer's own,
    // and the triggers let maybeCompact pick every group with a base and
    // one upper run for the run-subset rewrite
    base ++ seqField ++ aggs ++ seqGroup ++ Map("write-only" -> "true",
      "num-sorted-run.compaction-trigger" -> "2",
      "compaction.max-size-amplification-percent" -> "1000000")
  }

  private def randomBatch(rnd: Random, n: Int): Seq[Row] =
    (0 until n).map { _ =>
      val k = rnd.nextInt(8).toLong
      Row(
        k, // few keys → lots of merging
        "p" + (k % 2), // partition stable per key (fixed-bucket routing)
        rnd.nextInt(20).toLong, // out-of-order versions incl. duplicates
        if (rnd.nextInt(5) == 0) null else rnd.nextInt(100).toLong,
        if (rnd.nextInt(5) == 0) null else rnd.nextInt(100) / 10.0,
        if (rnd.nextInt(5) == 0) null else s"v${rnd.nextInt(10)}",
        if (rnd.nextInt(5) == 0) null else rnd.nextBoolean(),
        if (rnd.nextInt(5) == 0) null
        else (0 until rnd.nextInt(4)).map(_ => rnd.nextInt(6).toLong))
    }

  private def canon(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case null => "∅"
      case d: Double => f"$d%.6f"
      case sq: Seq[_] => sq.mkString("[", ";", "]")
      case x => x.toString
    }.mkString("|")).sorted.toSeq

  test("DF merge path and row merge path agree across random engines and data") {
    var subsetRuns = 0
    for (scenario <- 0 until 12) {
      val rnd = new Random(scenario * 7919L + 17)
      val opts = randomConfig(rnd)
      val name = s"eq_$scenario"
      val pts = if (rnd.nextBoolean()) Seq("p") else Nil
      val pks = if (pts.nonEmpty) Seq("k", "p") else Seq("k")
      val t = GraftTable.create(spark, s"$wh/db/$name", schema,
        partitionKeys = pts, primaryKeys = pks, options = opts)
      val withDeletes = opts("merge-engine") == "deduplicate"
      def upserts(n: Int): Unit = for (_ <- 0 until n) {
        val rows = randomBatch(rnd, 30)
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 2), schema)
        val kinds = if (withDeletes && rnd.nextBoolean())
          Some(when(col("l").isNotNull && col("l") % 7 === 0,
            lit(GraftMeta.KindDelete)).otherwise(lit(GraftMeta.KindInsert)))
        else None
        t.upsert(df, kinds = kinds)
      }
      // the DataFrame group-merge oracle vs the DSv2 row-merge read, over
      // the same live files; returns the agreed contents
      def agreed(stage: String): Seq[String] = {
        val viaDf = canon(ReferenceMerge.read(t, t.store.latestSnapshot.get).collect())
        val viaRows = canon(spark.table(s"geq.db.$name").collect())
        assert(viaDf == viaRows,
          s"scenario $scenario (${opts.toSeq.sorted.mkString(",")}) diverged $stage")
        viaRows
      }
      def levels = t.store.liveFiles(t.store.latestSnapshot.get).map(_.level)
      upserts(3)
      val pre = agreed("pre-compaction")
      t.compact()
      assert(agreed("post-compaction") == pre, s"scenario $scenario: compaction changed contents")
      upserts(2)
      val upper = agreed("before the run-subset compaction")
      t.maybeCompact()
      // the subset rewrite leaves the max-level base and adds level-1 runs
      if (levels.contains(1)) subsetRuns += 1
      assert(agreed("post run-subset compaction") == upper,
        s"scenario $scenario: run-subset compaction changed contents")
      t.compact()
      assert(levels.forall(_ == GraftTable.MaxLevel))
      assert(agreed("post second full compaction") == upper,
        s"scenario $scenario: compaction changed contents")
    }
    assert(subsetRuns > 0, "no scenario exercised the run-subset rewrite")
  }
}
