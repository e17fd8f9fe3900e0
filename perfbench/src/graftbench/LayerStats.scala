package graftbench

import graft.core.{CommitKind, FileStore, ManifestEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import scala.collection.mutable

/** Per-layer metrics of a traced run. Counts are per traced round (their
  * sum over traced rounds divided by the number of traced rounds); `_ms`
  * metrics named after a call are medians per call; the other `_ms` metrics
  * are time per traced round.
  */
final class LayerStats(spark: SparkSession, rec: Recorder) {
  import LayerStats._

  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val calls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val roundQueries = mutable.ArrayBuffer.empty[DataFrame]
  private var w: Workload = _
  private var firstSnapshot: Map[String, Long] = Map.empty

  /** Marks the start of the measured phase. */
  def begin(workload: Workload): Unit = {
    w = workload
    firstSnapshot = w.tableDirs.map(d => d -> store(d).latestSnapshotId.getOrElse(0L)).toMap
  }

  private def store(dir: String): FileStore =
    new FileStore(dir, spark.sessionState.newHadoopConf())

  def count(name: String, v: Double): Unit = if (rec.traced) counts(name) += v
  def call(name: String, ms: Double): Unit =
    if (rec.traced) calls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
  /** A query run in a traced round, whose scan metrics are read after it. */
  def executed(df: DataFrame): Unit = if (rec.traced) roundQueries += df

  /** Untimed observations after a traced round. */
  def afterTracedRound(): Unit = {
    // scan metrics of the round's queries
    roundQueries.foreach { df =>
      PlanWalk.foreach(df.queryExecution.executedPlan) {
        case b: BatchScanExec =>
          def v(k: String) = b.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
          counts("core.files_read") += v("resultedTableFiles")
          counts("core.files_skipped") += v("skippedTableFiles")
          counts("spark.splits") += v("numSplits")
        case f: FileSourceScanExec =>
          val read = f.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0)
          counts("core.files_read") += read
          counts("core.files_skipped") += math.max(0.0, f.relation.location.inputFiles.length - read)
          counts("spark.splits") += f.inputRDD.getNumPartitions.toDouble
        case _ => ()
      }
    }
    roundQueries.clear()
    // planning on a fresh handle: the manifest cache is cold
    val cold = store(w.planTable.location)
    cold.latestSnapshot.foreach { s =>
      val t0 = System.nanoTime()
      cold.liveFiles(s)
      calls.getOrElseUpdate("core.plan_cold_ms", mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - t0) / 1e6
    }
    // sorted runs a read of each primary-key table merges
    w.pkTables.foreach { t =>
      t.store.latestSnapshot.foreach { s =>
        val live = t.store.liveFiles(s)
        val runs = live.groupBy(f => (f.partition, f.bucket)).values.map { fs =>
          fs.count(_.level == 0) + fs.filter(_.level > 0).map(_.level).distinct.size
        }
        if (runs.nonEmpty) {
          counts("merge.runs_per_bucket_mean") += runs.sum.toDouble / runs.size
          counts("merge.runs_per_bucket_max") += runs.max.toDouble
        }
        counts("merge.rows_in") += live.map(_.rowCount).sum.toDouble
        counts("merge.rows_out") += t.toDF.count().toDouble
      }
    }
  }

  def report(m: Stats.Metrics): Unit = {
    val roundMs = rec.samples.getOrElse("round", mutable.ArrayBuffer.empty[Double]).toSeq
    val batchMs = rec.samples.getOrElse("batch", mutable.ArrayBuffer.empty[Double]).toSeq
    val rounds = math.max(roundMs.size, 1).toDouble
    def perRound(name: String): Double = counts(name) / rounds
    def med(name: String): Double =
      calls.get(name).filter(_.nonEmpty).map(xs => Stats.median(xs.toSeq)).getOrElse(0.0)
    def spanMed(layer: String, name: String): Double = {
      val xs = rec.spans.filter(s => s.layer == layer && s.name == name).map(_.ms)
      if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    }
    def spanSum(layer: String, name: String): Double =
      rec.spans.filter(s => s.layer == layer && s.name == name).map(_.ms).sum / rounds
    val selfByLayer = rec.selfNsByLayer.map { case (l, ns) => l -> ns / 1e6 / rounds }
      .withDefaultValue(0.0)

    // graft.table
    m("table.upsert_ms", "ms") = spanMed("table", "upsert")
    m("table.append_ms", "ms") = spanMed("table", "append")
    m("table.lookup_ms", "ms") = spanMed("table", "lookup")
    m("table.driver_ms", "ms") = selfByLayer("table")
    val (dataCommits, compactions, rewritten) = compactionStats()
    m("table.compaction_share", "ratio") =
      if (dataCommits == 0) 0.0 else compactions.toDouble / dataCommits
    m("table.bytes_rewritten", "bytes") = rewritten / rounds

    // graft.core
    m("core.plan_ms", "ms") = spanMed("core", "liveFiles")
    m("core.plan_cold_ms", "ms") = med("core.plan_cold_ms")
    val stores = w.tableDirs.map(store)
    val latest = stores.flatMap(s => s.latestSnapshot.map(s -> _))
    m("core.manifests", "count") = latest.map(_._2.manifests.size).sum
    m("core.manifest_entries", "count") =
      latest.map { case (st, s) => s.manifests.map(st.readManifest(_).size).sum }.sum
    m("core.live_files", "count") = latest.map { case (st, s) => st.liveFiles(s).size }.sum
    m("core.snapshots", "count") = stores.map(_.snapshotIds.size).sum
    m("core.metadata_bytes", "bytes") = stores.map(s =>
      Files.treeBytes(s.snapshotDir.toUri.getPath) +
        Files.treeBytes(s.manifestDir.toUri.getPath)).sum.toDouble
    val read = perRound("core.files_read")
    val skipped = perRound("core.files_skipped")
    m("core.files_read", "count") = read
    m("core.files_skipped", "count") = skipped
    m("core.prune_ratio", "ratio") = if (read + skipped == 0) 0.0 else skipped / (read + skipped)

    // graft.merge
    m("merge.runs_per_bucket_mean", "count") = perRound("merge.runs_per_bucket_mean") /
      math.max(w.pkTables.size, 1)
    m("merge.runs_per_bucket_max", "count") = perRound("merge.runs_per_bucket_max") /
      math.max(w.pkTables.size, 1)
    m("merge.rows_in_per_row_out", "ratio") =
      if (counts("merge.rows_out") == 0) 0.0 else counts("merge.rows_in") / counts("merge.rows_out")

    // graft.spark
    m("spark.plan_ms", "ms") = spanSum("spark", "plan")
    m("spark.exec_ms", "ms") = spanSum("spark", "exec")
    m("spark.splits", "count") = perRound("spark.splits")

    // the Spark runtime, from the benchmark's listener
    val jobs = rec.jobSpans.map(_._2)
    def jobSum(f: Recorder.StageAgg => Double): Double = jobs.flatMap(_.stages).map(f).sum / rounds
    m("executor.jobs", "count") = jobs.size / rounds
    m("executor.stages", "count") = jobs.map(_.stages.size).sum / rounds
    m("executor.tasks", "count") = jobSum(_.tasks.toDouble)
    m("executor.run_ms", "ms") = jobSum(_.runMs.toDouble)
    m("executor.cpu_ms", "ms") = jobSum(_.cpuNs / 1e6)
    m("executor.gc_ms", "ms") = jobSum(_.gcMs.toDouble)
    m("executor.scheduler_delay_ms", "ms") = jobSum(_.schedDelayMs.toDouble)
    m("executor.shuffle_write_bytes", "bytes") = jobSum(_.shuffleWrite.toDouble)
    m("executor.shuffle_read_bytes", "bytes") = jobSum(_.shuffleRead.toDouble)
    m("executor.spill_bytes", "bytes") = jobSum(_.spill.toDouble)
    m("executor.input_bytes", "bytes") = jobSum(_.input.toDouble)
    m("executor.output_bytes", "bytes") = jobSum(_.output.toDouble)

    // graft.service
    m("service.requests", "count") = perRound("service.requests")
    m("service.keys", "count") = perRound("service.keys")
    m("service.jobs", "count") = perRound("service.jobs")
    m("service.hit_ratio", "ratio") =
      if (counts("service.requests") == 0) 0.0
      else counts("service.hit_requests") / counts("service.requests")
    m("service.hit_ms", "ms") = med("service.hit_ms")
    m("service.miss_ms", "ms") = med("service.miss_ms")

    // graft.streaming / graft.pipeline
    m("streaming.batch_ms", "ms") = spanMed("streaming", "processBatch")
    m("streaming.jobs_per_batch", "count") = {
      val batchSpans = rec.spans.filter(s => s.layer == "streaming").map(_.id).toSet
      val batches = batchSpans.size
      if (batches == 0) 0.0
      else rec.jobSpans.count { case (s, _) => underAny(s, batchSpans) }.toDouble / batches
    }
    m("streaming.docs_per_s", "1/s") = {
      val ms = rec.spans.filter(_.layer == "streaming").map(_.ms).sum
      if (ms == 0) 0.0 else counts("streaming.docs") / (ms / 1000)
    }
    StreamingStages.foreach(st => m(s"streaming.stage.${st}_ms", "ms") = med(s"stage.$st"))

    // self time per layer, and what tracing cost
    Layers.foreach(l => m(s"self.${l}_ms", "ms") = selfByLayer(l))
    val wall = roundMs.sum / rounds
    m("trace.attributed_share", "ratio") =
      if (wall == 0) 0.0 else (Layers.filter(_ != "client").map(selfByLayer).sum) / wall
    m("trace.batch_p50_ms", "ms") = if (batchMs.isEmpty) 0.0 else Stats.median(batchMs)
  }

  private lazy val parentOf: Map[Int, Int] = rec.spans.map(s => s.id -> s.parent).toMap

  private def underAny(s: Span, ids: Set[Int]): Boolean = {
    var p = s.parent
    while (p != 0 && !ids(p)) p = parentOf.getOrElse(p, 0)
    p != 0
  }

  /** (data commits, compaction commits, bytes the compactions wrote) over
    * the measured phase, read from the public snapshots and manifests.
    */
  private def compactionStats(): (Int, Int, Double) = {
    var data = 0; var compact = 0; var bytes = 0.0
    w.tableDirs.foreach { d =>
      val st = store(d)
      st.snapshotIds.filter(_ > firstSnapshot(d)).map(st.readSnapshot).foreach { s =>
        if (s.commitKind == CommitKind.COMPACT) {
          compact += 1
          bytes += s.deltaManifests.flatMap(st.readManifest)
            .filter(_.kind == ManifestEntry.ADD).map(_.file.size).sum
        } else data += 1
      }
    }
    (data, compact, bytes)
  }
}

object LayerStats {
  val Layers = Seq("client", "table", "core", "spark", "service", "streaming", "executor")
  val StreamingStages = Seq("build_text_intra", "build_text_corpus",
    "build_embed_intra", "build_embed_corpus", "materialize", "commits",
    "commit_corpus", "commit_ivf", "commit_sig")
}
