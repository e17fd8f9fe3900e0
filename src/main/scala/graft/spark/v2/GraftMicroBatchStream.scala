package graft.spark.v2

import graft.core.DataFileMeta
import graft.table.GraftTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.types.StructType

/** Offset = snapshot id: a batch is every delta (or changelog) file of the
  * snapshots in (start, end].
  */
case class GraftOffset(snapshotId: Long) extends Offset {
  override def json(): String = snapshotId.toString
}

/** DSv2 micro-batch source over the snapshot chain (reference:
  * PaimonMicroBatchStream.scala:32 + DataTableStreamScan.java:51):
  * per-snapshot delta follow-up, admission control by row count
  * (`read.max-rows-per-batch`), and bounded AvailableNow runs. Rows carry
  * the table schema; use the `format("graft")` streaming source
  * (`GraftSource`) or the `audit_log` system table when row kinds are
  * needed as columns.
  */
class GraftMicroBatchStream(
    spark: SparkSession,
    table: GraftTable,
    requested: StructType,
    readOptions: Map[String, String] = Map.empty)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  require(!table.schema.deletionVectors ||
      table.schema.changelogProducer == graft.core.ChangelogProducer.Lookup,
    "streaming reads on a deletion-vector table need changelog-producer=lookup")


  private val store = table.store
  private var availableNowBound: Option[Long] = None
  @volatile private var lastConsumerAdvance: Long = Long.MinValue

  // source lineage: job → table read edge, recorded once per stream
  // instantiation (one per query run; the stream-execution thread carries
  // the query id as a local property). Read back by $source_lineage.
  graft.core.Lineage.record(store.fs, store.rootPath, "source",
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .getOrElse("unknown"),
    store.latestSnapshotId.getOrElse(-1L))

  // deterministic for the full-first modes (latest-full → 0,
  // from-snapshot-full → id - 1), so `from == startExclusive` re-detects
  // the first batch across checkpoint recovery
  private val startExclusive: Long = table.streamingStartExclusive(readOptions)
  private val scanMode: String = readOptions.getOrElse("scan.mode",
    table.schema.option("scan.mode", "latest-full"))
  private val fullFirst: Boolean = table.streamingFullFirst(readOptions)

  private def maxRowsPerBatch: Option[Long] =
    readOptions.get("read.max-rows-per-batch")
      .orElse(table.schema.options.get("read.max-rows-per-batch")).map(_.toLong)

  // A registered consumer RESUMES: a new query (fresh checkpoint) with the
  // same consumer-id continues from the durable progress instead of
  // replaying per scan mode (reference: consumer-id streaming semantics;
  // `consumer.ignore-progress` opts back into a from-scratch read). An
  // existing checkpoint always wins — Spark passes its own offset then.
  override def initialOffset(): Offset = {
    val ignore = readOptions.get("consumer.ignore-progress")
      .orElse(table.schema.options.get("consumer.ignore-progress"))
      .exists(_.toBoolean)
    val resumed =
      if (ignore) None
      else readOptions.get("consumer-id")
        .orElse(table.schema.options.get("consumer-id"))
        .flatMap(store.readConsumer)
        .map(next => math.max(next - 1, startExclusive))
    GraftOffset(resumed.getOrElse(startExclusive))
  }

  override def deserializeOffset(json: String): Offset = GraftOffset(json.toLong)

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowBound = store.latestSnapshotId
  }

  override def getDefaultReadLimit: ReadLimit =
    maxRowsPerBatch.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  // bounded streaming (reference: CoreOptions SCAN_BOUNDED_WATERMARK +
  // BoundedChecker): reading ends when a snapshot with a LARGER watermark
  // is encountered — admissible ids are capped just below it. Under
  // AvailableNow the query then terminates; under open-ended triggers the
  // source idles at the cap (a Spark source cannot self-terminate).
  private val boundedWatermark: Option[Long] =
    readOptions.get("scan.bounded.watermark")
      .orElse(table.schema.options.get("scan.bounded.watermark")).map(_.toLong)

  private def boundedCap: Option[Long] = boundedWatermark.map { w =>
    store.snapshotIdsHinted
      .find(id => store.readSnapshot(id).watermark.exists(_ > w))
      .map(_ - 1).getOrElse(store.latestSnapshotId.getOrElse(0L))
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[GraftOffset].snapshotId
    // `start` is the end of the last batch whose processing completed
    // (Spark plans the next batch only after running the previous one, and
    // AvailableNow probes once more before terminating) — advance the
    // durable consumer to it so a FRESH query with the same consumer-id
    // resumes after the final batch too, which commit() alone never covers
    // (Spark doesn't call commit after the last AvailableNow batch).
    if (from > startExclusive && from > lastConsumerAdvance) {
      readOptions.get("consumer-id")
        .orElse(table.schema.options.get("consumer-id"))
        .foreach(id => store.writeConsumer(id, from + 1))
      lastConsumerAdvance = from // an idle stream must not rewrite the
                                 // consumer object on every trigger
    }
    val unbounded = availableNowBound.orElse(store.latestSnapshotId).getOrElse(from)
    val upper = boundedCap.map(math.min(_, unbounded)).getOrElse(unbounded)
    // the full first batch is ONE whole-table scan: row admission does not
    // apply to it. from-snapshot-full ends it at the named snapshot so
    // follow-up deltas replay individually; latest-full at the chain head.
    if (fullFirst && from == startExclusive && upper > from) {
      val end =
        if (scanMode == "from-snapshot-full" || scanMode == "compacted-full")
          math.min(startExclusive + 1, upper)
        else upper
      return GraftOffset(math.max(end, from))
    }
    val ids = liveAndPreservedIds.filter(id => id > from && id <= upper)
    if (ids.isEmpty) return GraftOffset(from)
    limit match {
      case r: ReadMaxRows =>
        // admit whole snapshots until the row budget is spent (at least
        // one), stopping at the FIRST rejected snapshot — admitted
        // snapshots must stay contiguous or the batch range (from, end]
        // would read a skipped snapshot's rows anyway
        var rows = 0L
        var end = from
        var stopped = false
        ids.foreach { id =>
          if (!stopped) {
            val cnt = deltaFiles(id).map(_.liveRowCount).sum
            if (end == from || rows + cnt <= r.maxRows) { end = id; rows += cnt }
            else stopped = true
          }
        }
        GraftOffset(end)
      case _ => GraftOffset(ids.last)
    }
  }

  override def reportLatestOffset(): Offset =
    GraftOffset(store.latestSnapshotId.getOrElse(0L))

  /** Snapshot ids plus ids surviving only as preserved changelogs
    * (decoupled retention) — a lagging stream replays through both.
    */
  private def liveAndPreservedIds: Seq[Long] =
    (store.snapshotIdsHinted ++ store.changelogIds).distinct.sorted

  private def deltaFiles(id: Long): Seq[DataFileMeta] =
    table.changelogOf(store.snapshotOrChangelog(id))._2

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftOffset].snapshotId
    val to = end.asInstanceOf[GraftOffset].snapshotId
    // durable read progress written at PLAN time with the in-flight batch's
    // exclusive start: Spark only invokes commit() once a SUBSEQUENT batch
    // starts (never after the final AvailableNow batch), so this is the
    // crash-safe lower bound — it pins exactly the range being read, and
    // commit() advances it further whenever Spark does call it.
    readOptions.get("consumer-id")
      .orElse(table.schema.options.get("consumer-id")).foreach { id =>
      store.writeConsumer(id, from + 1)
    }
    // full first batch: plan the snapshot's live files exactly as a batch
    // scan would (merged splits for pk tables) — immune to expired early
    // snapshots, unlike a delta replay from 0 (reference:
    // FullStartingScanner)
    if (fullFirst && from == startExclusive)
      return new GraftScan(spark, table, Some(store.readSnapshot(to)),
        requested, Nil, None).planInputPartitions()
    val ids = liveAndPreservedIds.filter(id => id > from && id <= to)
    val files = ids.flatMap(deltaFiles)
    // raw splits: a streaming batch replays deltas as-is, no cross-snapshot
    // merge (reference: DeltaFollowUpScanner.java:29)
    files.map(f => GraftInputPartition(Seq(GraftFileInfo(
      f.path, f.size, f.partition, f.bucket, f.level, f.schemaId, f.rowCount,
      f.dvPath)), merge = false)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // reuse the batch reader machinery; seed the per-schema read plans with
    // EVERY schema version, with and without a deletion vector, AND every
    // file format (plan keys carry the extension-derived format since
    // file.format.per.level), so any historic delta file in the stream
    // decodes (the placeholder metas are never read — they only carry the
    // plan keys)
    val placeholders = (0L to store.latestSchemaId).flatMap(sid =>
      Seq("p.parquet", "p.orc", "p.avro").flatMap(p => Seq(
        DataFileMeta(p, 0, 0, Nil, 0, 0, 0, 0, sid, Map.empty),
        DataFileMeta(p, 0, 0, Nil, 0, 0, 0, 0, sid, Map.empty, dvPath = Some("")))))
    new GraftScan(spark, table, None, requested, Nil, None,
      filesOverride = Some(placeholders)).createReaderFactory()
  }

  override def commit(end: Offset): Unit = {
    readOptions.get("consumer-id")
      .orElse(table.schema.options.get("consumer-id")).foreach { id =>
      store.writeConsumer(id, end.asInstanceOf[GraftOffset].snapshotId + 1)
    }
  }

  override def stop(): Unit = ()
}
