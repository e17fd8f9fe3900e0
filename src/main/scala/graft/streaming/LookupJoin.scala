package graft.streaming

import graft.table.GraftTable
import graft.spark.v2.GraftSparkTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.graft.SparkShims

/** Stream-static "lookup join": enrich a streaming frame with a graft
  * dimension table (reference capability: paimon-flink lookup joins —
  * `FileStoreLookupFunction`, `PrimaryKeyLookupTable`,
  * paimon-flink/.../flink/lookup/; we express it as a Spark stream-static
  * join instead of a RocksDB-backed operator state).
  *
  * Freshness semantics — the part the reference tunes with its refresh
  * options:
  *
  *  - [[fresh]]: the dimension side re-resolves its snapshot EVERY
  *    micro-batch. Spark re-optimizes the static side of a stream-static
  *    join at each trigger, which rebuilds the DSv2 scan, and the scan
  *    resolves the table's latest snapshot at build time — dimension rows
  *    upserted between triggers are visible to the next batch (the
  *    analogue of the reference's periodic lookup refresh).
  *  - [[pinned]]: the dimension content is fixed at the snapshot current
  *    when the join was built (`GraftTable.toDF` resolves the snapshot
  *    eagerly). Use for reproducible enrichment over a long-running
  *    stream, or pin to an explicit tag/snapshot via `toDF(snapshotId)`.
  *
  * Scale: the dimension is broadcast — a dim that fits the broadcast
  * threshold joins shuffle-free against every stream batch (the lookup
  * shape). For dims too large to broadcast, drop the hint and let Spark
  * shuffle the micro-batch side (typically the small side) instead.
  */
object LookupJoin {

  /** Per-batch-fresh lookup join: dimension snapshot re-resolved every
    * trigger. `keys` are the equi-join columns (the dimension's primary
    * key, for the reference's lookup semantics). Merged (MOR) reads and
    * pushdown run through the same DSv2 scan as catalog reads.
    */
  def fresh(stream: DataFrame, spark: SparkSession, dimPath: String,
      keys: Seq[String], joinType: String = "left",
      broadcastDim: Boolean = true): DataFrame = {
    val dim = dimFrame(spark, dimPath)
    stream.join(if (broadcastDim) broadcast(dim) else dim, keys, joinType)
  }

  /** Snapshot-pinned lookup join: dimension content as of join build.
    * `broadcastDim = false` for dimensions too large to broadcast — Spark
    * then shuffles the (typically small) micro-batch side instead.
    */
  def pinned(stream: DataFrame, dim: GraftTable, keys: Seq[String],
      joinType: String = "left", broadcastDim: Boolean = true): DataFrame = {
    val d = dim.toDF
    stream.join(if (broadcastDim) broadcast(d) else d, keys, joinType)
  }

  /** Batch frame over the table's DSv2 relation with NO pinned snapshot:
    * snapshot resolution happens at scan-build time, so each micro-batch
    * re-plan reads the then-latest snapshot.
    */
  def dimFrame(spark: SparkSession, path: String): DataFrame = {
    val table = GraftTable.load(spark, path)
    val ident = Identifier.of(Array("graft"), path.split('/').last)
    val rel = DataSourceV2Relation.create(
      GraftSparkTable(spark, table, ident), None, Some(ident))
    SparkShims.ofRows(spark, rel)
  }

  /** REMOTE lookup join (reference: the paimon-flink lookup join's remote
    * service mode — `RemoteTableQuery` probing paimon-service instead of
    * loading dim files locally): each partition of the PROBE side batches
    * its distinct keys into HTTP probes against a
    * [[graft.service.LookupServer]] and the returned rows join back —
    * no dim broadcast, no per-batch dim scan; the server's key cache
    * makes hot-key streams memory-speed and its misses fold into
    * bucket-pruned jobs server-side.
    *
    * `df` is a BATCH frame — inside a streaming query, apply per
    * micro-batch via `foreachBatch` (the natural probe batching unit).
    * `dimSchema` is the dimension's full schema (e.g.
    * `GraftTable.load(...).toDF.schema` captured at wiring time).
    */
  def remote(df: DataFrame, endpoint: String, keys: Seq[String],
      dimSchema: org.apache.spark.sql.types.StructType,
      joinType: String = "left", probeBatchSize: Int = 1000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val keyIdx = keys.indices
    val probeKeys = df.select(keys.map(org.apache.spark.sql.functions.col): _*)
      .distinct()
    val foundJson = probeKeys.mapPartitions { rows =>
      rows.grouped(probeBatchSize).flatMap { chunk =>
        val probes = chunk.flatMap { r =>
          val vals = keyIdx.map(i => keys(i) -> r.get(i))
          if (vals.exists(_._2 == null)) None else Some(vals.toMap)
        }
        if (probes.isEmpty) Iterator.empty
        else graft.service.LookupClient.lookupBatch(endpoint, probes).iterator
      }
    }
    val dim = spark.read.schema(dimSchema).json(foundJson)
    df.join(dim, keys, joinType)
  }
}
