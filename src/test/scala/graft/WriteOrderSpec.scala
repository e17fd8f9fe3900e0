package graft

import graft.table.GraftTable
import org.apache.spark.sql.functions._

/** Staged data files MUST be primary-key-sorted runs — the k-way merge
  * heap behind reads and compaction assumes it. Spark's planned-write path silently
  * violated this: V1Writes wraps string partition columns in empty2null,
  * its ordering check then never matches a pre-arranged frame, and the
  * replacement partition-cols-only sort interleaves ~360-row chunks once
  * it spills (caught by the 10x-scale oracle sweep as resurrected stale
  * rows in q38). This spec writes enough rows per directory to trigger
  * that spill and asserts per-file key order end-to-end.
  */
class WriteOrderSpec extends SparkSpec {
  import spark.implicits._

  test("upsert stages pk-sorted files under string partitions at spill size") {
    // ~50k rows per (partition, bucket) directory — the scale where the
    // planned-write sort demonstrably spilled and scrambled
    val n = 200000
    val df = spark.range(n).select(
      col("id").as("k"),
      (col("id") % 2).cast("int").cast("string").as("pt"), // STRING partition
      (col("id") * 7 % 1000).cast("double").as("v"))
      // present rows in key-scrambled order so sortedness is earned
      .orderBy(hash(col("id")))
    val t = GraftTable.create(spark, tmpTable(), df.schema,
      partitionKeys = Seq("pt"), primaryKeys = Seq("k"),
      options = Map("bucket" -> "2"))
    t.upsert(df)

    val live = t.store.liveFiles(t.store.latestSnapshot.get)
    assert(live.nonEmpty)
    live.foreach { f =>
      val keys = spark.read.parquet(t.location + "/" + f.path)
        .select("k").collect().map(_.getLong(0))
      val descents = keys.sliding(2).count(a => a(0) > a(1))
      assert(descents == 0,
        s"file ${f.path} (${keys.length} rows) has $descents key-order descents")
    }

    // and the merged read stays exact: second batch moves every %3 key to
    // the OTHER partition (cross-partition update of the non-pk partition
    // col is not allowed here since pt not in pk... use same-partition
    // overwrite instead) — overwrite prices for %3 keys, expect one row
    // per key with the new value
    val b2 = df.filter(col("k") % 3 === 0).withColumn("v", lit(-1.0))
    t.upsert(b2)
    val out = t.toDF
    assert(out.count() == n, s"merged count ${out.count()} != $n")
    assert(out.filter(col("v") === -1.0).count() === n / 3 + (if (n % 3 == 0) 0 else 1))

    // compaction streams each (partition, bucket) through the k-way merge
    // into ONE max-level file, which must be just as key-sorted
    t.compact()
    val compacted = t.store.liveFiles(t.store.latestSnapshot.get)
    assert(compacted.forall(_.level == GraftTable.MaxLevel))
    assert(compacted.groupBy(f => (f.partition, f.bucket)).values.forall(_.size == 1),
      "compaction must write one file per (partition, bucket)")
    compacted.foreach { f =>
      val keys = spark.read.parquet(t.location + "/" + f.path)
        .select("k").collect().map(_.getLong(0))
      val descents = keys.sliding(2).count(a => a(0) > a(1))
      assert(descents == 0,
        s"compacted file ${f.path} (${keys.length} rows) has $descents key-order descents")
    }
    assert(t.toDF.count() == n)
    assert(t.toDF.filter(col("v") === -1.0).count() === n / 3 + (if (n % 3 == 0) 0 else 1))
  }

  test("cross-partition upsert merges moved keys at spill size") {
    // the q38 shape at a spill-triggering size: batch 2 MOVES keys to a
    // new partition; the cross-partition merge must retract the old rows
    val n = 150000
    val df = spark.range(n).select(
      col("id").as("k"),
      when(col("id") % 3 === 0, "A").when(col("id") % 3 === 1, "B")
        .otherwise("C").as("pt"),
      col("id").cast("double").as("v"))
      .orderBy(hash(col("id")))
    val t = GraftTable.create(spark, tmpTable(), df.schema,
      partitionKeys = Seq("pt"), primaryKeys = Seq("k"),
      options = Map("bucket" -> "2"))
    t.upsert(df)
    t.upsert(df.filter(col("k") % 7 === 0)
      .withColumn("pt", lit("X")).withColumn("v", col("v") * 2))
    val out = t.toDF
    assert(out.count() == n, s"cross-partition merge left ${out.count()} rows, want $n")
    assert(out.groupBy("k").count().filter(col("count") > 1).count() == 0,
      "stale pre-move rows survived the cross-partition merge")
    assert(out.filter(col("pt") === "X").count() == (n + 6) / 7)
  }
}
