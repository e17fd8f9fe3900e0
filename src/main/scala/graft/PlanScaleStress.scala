package graft

import graft.core.{ColStats, DataFileMeta, ManifestEntry}
import graft.table.GraftTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver PLANNING-scale probe (BASELINE.md §scaling): how do commit +
  * scan planning — the driver-side manifest fold, shard skipping, and
  * split binning behind `planInputPartitions` — behave at 10⁴…10⁶
  * committed files? At 100 TB with ~128 MB files the driver plans over
  * ~10⁶ manifest entries, and after the executor-side paths were
  * shape-verified (ScaleStress/WriteScaleStress) this driver fold is
  * the next single-machine bottleneck; BASELINE.md had write/scan/
  * pipeline scale curves but none for planning.
  *
  * Files are FABRICATED manifest entries (plausible 128 MB sizes, real
  * per-column stats, no bytes on disk): planning never opens data
  * files, so the measured wall/heap IS the production planning cost
  * while the fixture stays seconds-cheap at any file count. Entries
  * land in 2000-file commits, so manifest compaction (C8: fold into
  * ≤4096-entry ADD-only shards with partition-range metadata) triggers
  * naturally every `manifestMergeThreshold` commits along the way —
  * the probe measures planning AS MAINTAINED, not on one giant
  * manifest.
  *
  * Reported per run (one JSON line):
  *  - `commit_total_sec` / `commit_last_sec`: total and final-commit
  *    wall — the final commit shows the amortized fold cost at size;
  *  - `plan_full_sec`: wall of `planInputPartitions` for an unfiltered
  *    scan (toRdd.getNumPartitions — plans splits, executes nothing);
  *  - `plan_pruned_sec`: the same with a single-partition filter —
  *    shard skipping must make this near-flat in total file count;
  *  - `plan_heap_mb`: driver-heap delta across the full planning call;
  *  - `shards` / `shard_entries_max`: manifest-compaction output shape.
  *
  * Drive at 1×/10×/100× (e.g. 10k/100k/1M) and compare slopes:
  *   runMain graft.PlanScaleStress 10000
  *   runMain graft.PlanScaleStress 100000
  *   runMain graft.PlanScaleStress 1000000
  */
object PlanScaleStress {
  def main(args: Array[String]): Unit = {
    val totalFiles = if (args.length > 0) args(0).toInt else 100000
    val partitions = if (args.length > 1) args(1).toInt else 100
    // optional third arg: a REUSABLE table dir — when the table already
    // exists there, fabrication is skipped and only planning re-measures
    // (iterate on planning without paying the commit phase each run)
    val keepPath = if (args.length > 2) Some(args(2)) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .config("spark.hadoop." + graft.spark.NioLocalFileSystem.ConfKey,
        graft.spark.NioLocalFileSystem.ConfValue)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = keepPath.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-planscale").toString)
    val schema = StructType(Seq(
      StructField("p", StringType),
      StructField("k", LongType),
      StructField("v", DoubleType)))
    val preBuilt = GraftTable.exists(spark, s"$base/t")
    val t = if (preBuilt) GraftTable.load(spark, s"$base/t")
      else GraftTable.create(spark, s"$base/t", schema,
        partitionKeys = Seq("p"))
    val store = t.store
    val decompose = sys.env.contains("PLAN_DECOMPOSE")

    def time[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val out = f
      ((System.nanoTime() - t0) / 1e9, out)
    }
    def heapUsed(): Long = {
      System.gc(); System.gc()
      Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()
    }

    // ---- fabricate + commit: 2000-file APPEND commits, bucket-less
    // append layout, contiguous key ranges per file so stats-based
    // skipping has real structure ----
    val perCommit = 2000
    // a prebuilt table supplies its ACTUAL file count — a rerun with a
    // different <files> argument must not silently report numbers for
    // the old size under the new label (hiKey/plan_stats would also
    // prune to zero); fabrication tops the table up to totalFiles
    var made = if (preBuilt)
      store.latestSnapshot.map(s => store.liveFiles(s).size).getOrElse(0)
    else 0
    require(made <= totalFiles,
      s"prebuilt table at $base/t already has $made files > requested " +
        s"$totalFiles — point the probe at a fresh dir or raise <files>")
    var commitTotal = 0.0
    var commitLast = 0.0
    // hoisted: GraftTable.schema re-reads (dir list + JSON parse) the
    // latest schema per call — per-ENTRY it throttled fixture fabrication
    // to ~1/8th speed at 10⁷ (untimed, but it is pure probe wall-clock)
    val schemaId = t.schema.id
    while (made < totalFiles) {
      val n = math.min(perCommit, totalFiles - made)
      val entries = (made until made + n).map { g =>
        val part = f"p${g % partitions}%04d"
        val lo = g.toLong * 1000000L
        ManifestEntry(ManifestEntry.ADD, DataFileMeta(
          path = f"data/p=$part/f-$g%07d.parquet",
          size = 128L << 20, rowCount = 1000000L,
          partition = Seq(part), bucket = 0, level = 0,
          minSeq = 0L, maxSeq = 0L, schemaId = schemaId,
          stats = Map(
            "k" -> ColStats(Some(lo.toString), Some((lo + 999999L).toString), 0L),
            "v" -> ColStats(Some("0.0"), Some("1.0"), 0L))))
      }
      val (sec, _) = time(store.commit(entries, "APPEND"))
      commitTotal += sec
      commitLast = sec
      made += n
    }

    val snap = store.latestSnapshot.get
    val shards = snap.manifestMeta.size
    val shardEntriesMax =
      if (snap.manifestMeta.isEmpty) 0L else snap.manifestMeta.map(_.entries).max
    val (liveSec, liveList) = time(store.liveFiles(snap))
    val liveN = liveList.size

    // ---- delete-commit probe: a DELETE+re-ADD of 100 single-partition
    // files (the shape of a DV-mask epoch or bucket compaction). The
    // conflict check must fold only shards overlapping the touched
    // partition — pre-scoping it folded the ENTIRE live set per delete
    // commit, the last O(live-files) driver cost on the commit path ----
    val delFiles = liveList.filter(_.partition == Seq("p0000")).take(100)
    val (delSec, _) = time(store.commit(
      delFiles.map(ManifestEntry(ManifestEntry.DELETE, _)) ++
        delFiles.map(ManifestEntry(ManifestEntry.ADD, _)), "APPEND"))

    // ---- latest-snapshot resolution: the LATEST hint (one GET + a
    // forward probe) vs the full snapshot-dir listing it replaces at
    // every plan/commit/micro-batch poll ----
    val (latestHintSec, _) = time(store.latestSnapshotId)
    val (latestListSec, _) = time(store.snapshotIds.maxOption)

    // ---- planning walls: construct the scan RDD (planInputPartitions
    // runs on the driver), never execute a task ----
    val h0 = heapUsed()
    def planFull() = time(t.toDF.queryExecution.toRdd.getNumPartitions)
    def planPruned() = time(
      t.toDF.filter(col("p") === "p0000")
        .queryExecution.toRdd.getNumPartitions)
    // stats skipping rides the same planning fold: a key-range filter
    // that only the last ~perCommit files can satisfy
    val hiKey = (totalFiles.toLong - perCommit) * 1000000L
    def planStats() = time(
      t.toDF.filter(col("k") >= hiKey)
        .queryExecution.toRdd.getNumPartitions)
    // PLAN_DECOMPOSE=1: time each planning layer in isolation against the
    // prebuilt table — separates the store-level manifest fold from the
    // index-level predicate evaluation from Spark's physical planning
    if (decompose) {
      import graft.core.Pruning
      def stage(name: String)(f: => Any): Unit = {
        val (s1, r1) = time(f); val (s2, _) = time(f)
        println(f"[decompose] $name%-28s first=$s1%7.3f warm=$s2%7.3f  ($r1)")
      }
      val sn = store.latestSnapshot.get
      stage("fold_all")(store.liveFiles(sn).size)
      val keep = (m: graft.core.ManifestMeta) => (m.ptMin, m.ptMax) match {
        case (Some(lo), Some(hi)) =>
          Pruning.shardMightMatch(
            org.apache.spark.sql.sources.EqualTo("p", "p0000"),
            Seq("p"), lo, hi)
        case _ => true
      }
      stage("fold_shard_skipped")(store.liveFiles(sn, keep).size)
      val nSkip = sn.manifestMeta.count(m => m.addOnly && !keep(m))
      println(s"[decompose] shards=${sn.manifestMeta.size} skipped=$nSkip")
      stage("df_analyze")(t.toDF.filter(col("p") === "p0000")
        .queryExecution.optimizedPlan.toString.length)
      // table-side cost in isolation (fold + per-file pruning + split
      // packing), fresh scan per call — what the full plan pays beneath
      // Spark's own planning
      stage("listfiles_full")(
        new graft.spark.v2.GraftScan(spark, t, Some(sn), t.schema.structType, Nil, None)
          .planInputPartitions().length)
      stage("plan_full")(t.toDF.queryExecution.toRdd.getNumPartitions)
      stage("plan_pruned")(t.toDF.filter(col("p") === "p0000")
        .queryExecution.toRdd.getNumPartitions)
      stage("plan_stats")(t.toDF.filter(col("k") >= hiKey)
        .queryExecution.toRdd.getNumPartitions)
      spark.stop(); return
    }
    val (fullSec, fullParts) = planFull()
    val planHeapMb = math.max(0L, heapUsed() - h0) / (1 << 20)
    val (prunedSec, prunedParts) = planPruned()
    val (statsSec, statsParts) = planStats()
    // second samples: separates one-time warm-up (codegen, manifest
    // parse) from the steady-state per-plan cost
    val (fullSec2, _) = planFull()
    val (prunedSec2, _) = planPruned()
    val (statsSec2, _) = planStats()

    println(f"""{"metric":"plan_scale","files":$totalFiles,"partitions":$partitions,"commit_total_sec":$commitTotal%.3f,"commit_last_sec":$commitLast%.3f,"commit_delete_sec":$delSec%.3f,"latest_hint_sec":$latestHintSec%.4f,"latest_list_sec":$latestListSec%.4f,"live_fold_sec":$liveSec%.3f,"live_files":$liveN,"shards":$shards,"shard_entries_max":$shardEntriesMax,"plan_full_sec":$fullSec%.3f,"plan_full_sec2":$fullSec2%.3f,"plan_full_splits":$fullParts,"plan_pruned_sec":$prunedSec%.3f,"plan_pruned_sec2":$prunedSec2%.3f,"plan_pruned_splits":$prunedParts,"plan_stats_sec":$statsSec%.3f,"plan_stats_sec2":$statsSec2%.3f,"plan_stats_splits":$statsParts,"plan_heap_mb":$planHeapMb}""")
    spark.stop()
  }
}
